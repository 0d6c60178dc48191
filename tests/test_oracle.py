"""Oracle harness: every registry query vs DuckDB, exact-match.

Mimics the driver's t2 gate: run the Spark implementation and the oracle
SQL on the same parquet, sort columns by name, sort rows, compare values
EXACTLY (floats too — the determinism rules in callysto_spark.queries
are designed to make exact equality hold; a tolerance here would hide
driver hash mismatches).
"""

from __future__ import annotations

import math

import pytest

from callysto_spark.queries import load_all

REGISTRY = load_all()


def _arrow_category(t) -> str:
    """Coarse arrow-type category for dtype parity. Distinguishes the
    classes the driver's type-sensitive hash distinguishes (int widths,
    float widths, DuckDB HUGEINT→decimal128) while collapsing what it
    does not (string encodings, timestamp unit/zone, dictionary)."""
    import pyarrow as pa

    if pa.types.is_dictionary(t):
        return _arrow_category(t.value_type)
    if pa.types.is_integer(t):
        # widths collapse: int32 vs int64 hash identically (both become
        # Python int) — proven by driver-green rows with Spark INT vs
        # DuckDB BIGINT (rank/year columns, r1-r3)
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_arrow_category(t.value_type)}>"
    return str(t)


_SPARK_CATEGORY = {
    "tinyint": "int",
    "smallint": "int",
    "int": "int",
    "bigint": "int",
    "float": "float",
    "double": "float",
    "boolean": "bool",
    "string": "string",
    "binary": "binary",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
}


def spark_dtype_category(dtype: str) -> str:
    if dtype.startswith("decimal("):
        return "decimal(" + dtype[len("decimal(") :]
    if dtype.startswith("array<") and dtype.endswith(">"):
        return f"list<{spark_dtype_category(dtype[6:-1])}>"
    return _SPARK_CATEGORY.get(dtype, dtype)


def assert_dtype_parity(name, sdf, ddb, oracle_sql):
    """The driver's value hash is TYPE-sensitive: DuckDB sum(BIGINT) →
    HUGEINT (arrow decimal128(38,0)) hash-differs from Spark BIGINT even
    when every value is equal — this burned rounds 1 and 3. Compare the
    oracle's arrow schema against Spark dtypes so the class fails
    locally."""
    oschema = ddb.execute(oracle_sql).fetch_arrow_table().schema
    otypes = {f.name: _arrow_category(f.type) for f in oschema}
    stypes = {c: spark_dtype_category(d) for c, d in sdf.dtypes}
    diffs = {
        c: (stypes[c], otypes[c])
        for c in stypes
        if c in otypes and stypes[c] != otypes[c]
    }
    assert not diffs, (
        f"{name}: dtype mismatch spark vs oracle (add CAST in the oracle "
        f"or align the Spark side): {diffs}"
    )


def test_dtype_parity_catches_hugeint(ddb):
    """Harness self-test: an uncast DuckDB sum over BIGINT must be flagged."""
    import pyarrow as pa

    t = ddb.execute("SELECT sum(n_chars) AS s FROM documents").fetch_arrow_table()
    cat = _arrow_category(t.schema.field("s").type)
    assert cat != "int", "expected HUGEINT/decimal128 from uncast sum"
    assert cat.startswith("decimal") or pa.types.is_decimal(t.schema.field("s").type)


def normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float) and math.isnan(v):
                v = None
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda r: tuple((x is not None, str(type(x)), x) for x in r))
    return [cols[i] for i in order], out


def run_oracle_parity(name, spark, ddb, sf_dir):
    """Driver-style parity for ONE registry query: Spark vs DuckDB on the
    same parquet, exact values. Shared by the default-SF suite below and
    the env-gated sf1 suite (tests/test_sf1_parity.py)."""
    q = REGISTRY[name]
    sdf = q.fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = list(sdf.columns)
    if q.oracle is None:
        # rows-only: deterministic across two runs of our own engine
        again = [tuple(r) for r in q.fn(spark, sf_dir).collect()]
        assert len(srows) == len(again)
        assert sorted(map(str, srows)) == sorted(map(str, again))
        return
    assert_dtype_parity(name, sdf, ddb, q.oracle)
    cur = ddb.execute(q.oracle)
    ocols = [d[0] for d in cur.description]
    orows = [tuple(r) for r in cur.fetchall()]
    assert sorted(scols) == sorted(ocols), f"{name}: column sets differ: {scols} vs {ocols}"
    s_cols, s_norm = normalize(scols, srows)
    o_cols, o_norm = normalize(ocols, orows)
    assert len(s_norm) == len(o_norm), f"{name}: row count {len(s_norm)} vs oracle {len(o_norm)}"
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_norm, o_norm)) if a != b
    ]
    assert not mismatches, f"{name}: {len(mismatches)} row mismatches; first 3: {mismatches[:3]}"


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark, ddb, sf_dir):
    run_oracle_parity(name, spark, ddb, sf_dir)


def test_load_all_idempotent_and_windowed():
    """The driver imports the registry via __spark_entry__ and samples
    the first ~50 entries; load_all() must be idempotent (repeat calls
    keep the same order), keep all 87 queries (now ALL oracle-checked —
    the two BLAS rows gained real oracles in r9), and keep the core
    north-star dedup/ANN surface inside the sampled window. A doc_/emb_
    row may sit OUTSIDE the window only while it is at its freshest
    (green in the newest driver artifact, so deferring one round cannot
    violate the 2-round freshness invariant)."""
    import json
    from pathlib import Path

    from callysto_spark.queries import load_all

    first = list(load_all())
    second = list(load_all())
    assert first == second, "load_all must be order-stable across calls"
    assert len(first) == len(set(first)) == 87
    head = first[:50]
    # rows deferred by the r16 rotation: every one is r15-green (the
    # newest possible certification), making room for the 37 rows whose
    # newest green was r14 — exactly covering the 9 queries the r15
    # optimization restructured outside the r15 driver window
    deferred = {
        "doc_winnow_fingerprints",
        "doc_fingerprint_groups",
        "doc_dedup_exact",
        "embedding_array_stats",
    }
    missing = [
        n
        for n in first
        if n.startswith(("doc_", "emb")) and n not in head and n not in deferred
    ]
    assert not missing, f"north-star queries fell out of the sampled window: {missing}"
    # the freshness justification for the deferral, checked against the
    # newest correctness artifact (a missing artifact fails the test)
    art = Path(__file__).resolve().parents[1] / "history" / "CORRECTNESS_r15.json"
    rec = json.loads(art.read_text())
    rec = rec.get("parsed", rec)
    not_fresh = [
        n for n in deferred if not (rec.get(n, {}).get("hash_match") or rec.get(n, {}).get("rows_match"))
    ]
    assert not not_fresh, (
        f"deferred rows must be green in the newest driver artifact: {not_fresh}"
    )


def test_all_bench_rows_in_sampled_window():
    """Every bench=True registry row must sit inside the driver's
    first-50 correctness sample, whatever the round's rotation — the
    bench anchor's headline queries must be hash-certified in the SAME
    round as the anchor they feed (r14 ADVICE high finding: the
    hand-maintained r14 watch list silently dropped q5_supplier_volume
    out of the window; the watch list is now derived from the bench
    flags and load_all() raises if any bench row escapes, but this test
    is the independent pin — it would fail even if the ValueError guard
    in load_all() were edited away)."""
    from callysto_spark.queries import load_all

    reg = load_all()
    names = list(reg)
    head = set(names[:50])
    out = [n for n, q in reg.items() if q.bench and n not in head]
    assert not out, f"bench=True rows outside the driver's first-50 sample: {out}"
    # the bench headline set is pinned by name: perfbench's `queries`
    # workload runs exactly these rows (the same 12 as the archived
    # history/BENCH_BASELINE.json), so changing the set is a deliberate
    # act, not drift
    assert sorted(n for n, q in reg.items() if q.bench) == [
        "doc_ngram_jaccard_capped",
        "doc_pipeline_clean_corpus",
        "doc_token_stats",
        "emb_cosine_topk",
        "emb_ivf_topk",
        "events_asof_purchase_click",
        "events_sessionize",
        "part_type_topk",
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_supplier_volume",
        "supplier_daily_running",
    ]


def test_raw_message_oracle_agrees_on_null_ts_and_negative_user_id(spark, tmp_path):
    """The pinned testdata has no NULL ts and no negative user_id, so the
    driver gate alone would never catch a NULLS FIRST/LAST or %-vs-pmod
    divergence between raw_message_decode_stats and its oracle. Plant
    both hazards in a synthetic events table and require bit-exact
    cross-engine agreement."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    rows = [
        # (event_id, ts, user_id, event_type, value, props)
        (1, None, -7, "click", 1.5, "{}"),          # NULL ts, negative user
        (2, datetime(2026, 1, 1, 0, 0, 1), -7, "click", 2.5, "{}"),
        (3, datetime(2026, 1, 1, 0, 0, 2), 3, "view", 0.5, "{}"),
        (4, None, 3, "view", 4.0, "{}"),            # second NULL ts
        (5, datetime(2026, 1, 1, 0, 0, 3), -2, "click", 1.0, "{}"),
        (6, datetime(2026, 1, 1, 0, 0, 1), 6, "view", 9.0, "{}"),
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))

    q = REGISTRY["raw_message_decode_stats"]
    got = sorted(tuple(r) for r in q.fn(spark, str(tmp_path)).collect())

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(q.oracle).fetchall())
    con.close()
    assert got == want, f"spark={got}\noracle={want}"


def test_sessionize_oracle_agrees_on_null_ts(spark, tmp_path):
    """A NULL ts must be dropped by sessionize on BOTH sides — ranked
    instead, it would sort NULLS FIRST in Spark but NULLS LAST in
    DuckDB and poison every later lag-gap in the key. Plant NULL ts
    rows and require bit-exact cross-engine agreement."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    rows = [
        # (event_id, ts, user_id): user 1 has a NULL between two sessions
        (1, datetime(2026, 1, 1, 0, 0, 0), 1),
        (2, None, 1),
        (3, datetime(2026, 1, 1, 2, 0, 0), 1),   # > 30 min after #1: new session
        (4, datetime(2026, 1, 1, 2, 10, 0), 1),  # same session as #3
        (5, None, 2),                             # user 2: ONLY null ts -> absent
        (6, datetime(2026, 1, 1, 5, 0, 0), 3),
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array(["click"] * len(rows), pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))

    q = REGISTRY["events_sessionize"]
    got = sorted(tuple(r) for r in q.fn(spark, str(tmp_path)).collect())

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(q.oracle).fetchall())
    con.close()
    assert got == want, f"spark={got}\noracle={want}"
    users = {r[0] for r in got}
    assert users == {1, 3}, "null-only user must vanish, timed users remain"
    assert sum(r[2] for r in got if r[0] == 1) == 3, "user 1 keeps 3 timed events"


def test_asof_oracle_agrees_on_null_ts(spark, tmp_path):
    """SQL ASOF JOIN semantics for NULLs: a NULL-ts click must match
    nothing (ranked instead, Spark's NULLS FIRST would make it the
    'earliest known state' for the whole user), and a NULL-ts purchase
    is kept with NULL attachments. Plant both and require bit-exact
    cross-engine agreement."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    rows = [
        # (event_id, ts, user_id, event_type)
        (1, None, 1, "click"),                          # NULL-ts click: matches nothing
        (2, datetime(2026, 1, 1, 1, 0, 0), 1, "purchase"),  # before any timed click
        (3, datetime(2026, 1, 1, 2, 0, 0), 1, "click"),
        (4, datetime(2026, 1, 1, 3, 0, 0), 1, "purchase"),  # matches click #3
        (5, None, 1, "purchase"),                       # NULL-ts purchase: kept, no match
        (6, datetime(2026, 1, 1, 4, 0, 0), 2, "purchase"),  # user 2: no clicks at all
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))

    q = REGISTRY["events_asof_purchase_click"]
    got = sorted(map(str, (tuple(r) for r in q.fn(spark, str(tmp_path)).collect())))

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    want = sorted(map(str, (tuple(r) for r in con.execute(q.oracle).fetchall())))
    con.close()
    assert got == want, f"spark={got}\noracle={want}"
    assert len(got) == 4, "all four purchases kept (LEFT semantics)"


def test_asof_attaches_matched_row_atomically_not_per_column(spark):
    """SQL ASOF returns the matched right row VERBATIM — a NULL
    attribute on it stays NULL. Independent per-column
    last(ignorenulls) would instead fill that NULL from an OLDER right
    row, attaching a chimera of two rows."""
    from datetime import datetime

    from callysto_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(100, 1, datetime(2026, 1, 1, 3, 0, 0))], "id long, k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            (1, datetime(2026, 1, 1, 1, 0, 0), 10),
            (1, datetime(2026, 1, 1, 2, 0, 0), None),  # matched row, NULL attr
        ],
        "k long, rts timestamp, attr long",
    )
    out = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="rts", right_cols=["attr", "rts"]
    ).collect()
    assert len(out) == 1
    r = out[0].asDict()
    assert r["rts"] == datetime(2026, 1, 1, 2, 0, 0), "latest right row matched"
    assert r["attr"] is None, (
        f"NULL attribute of the matched row must stay NULL, got {r['attr']} "
        "(filled from an older right row)"
    )


def test_sessionize_subsecond_gap_agrees_with_oracle(spark, tmp_path):
    """The gap must be computed on MICROSECOND epochs: cast-to-long
    truncates to seconds, so a true 1800.8s gap reads as 1800 and two
    sessions fuse — and the oracle (epoch_us) disagrees. Plant
    sub-second timestamps straddling the 1800s boundary."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta

    base = datetime(2026, 1, 1, 0, 0, 0, 100_000)  # .1s
    rows = [
        (1, base, 1),
        (2, base + timedelta(seconds=1800, microseconds=800_000), 1),  # gap 1800.8 > 1800: new session
        (3, base + timedelta(seconds=3600, microseconds=900_000), 1),  # gap 1800.1 > 1800: new session
        (4, base + timedelta(seconds=5400, microseconds=100_000), 1),  # gap 1799.2 <= 1800: same session
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array(["click"] * len(rows), pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))

    q = REGISTRY["events_sessionize"]
    got = sorted(tuple(r) for r in q.fn(spark, str(tmp_path)).collect())

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(q.oracle).fetchall())
    con.close()
    assert got == want, f"spark={got}\noracle={want}"
    assert len(got) == 3, f"expected 3 sessions (boundary gaps split), got {len(got)}"
