"""Cross-engine deterministic rounding.

``round(double, n)`` differs between engines at half-way points: Spark
rounds the shortest-decimal rendering HALF_UP (70160.805 → 70160.81)
while DuckDB rounds the binary value (70160.80499999… → 70160.80). For
oracle hash-matching we need one definition computed identically on
identical IEEE doubles, so both sides use

    floor(x * 10^n + 0.5) / 10^n

— multiply, add, floor and divide are all exact-deterministic IEEE ops,
so the two engines agree bit-for-bit. (Valid for |x|·10^n < 2^53; all
our aggregates are far below.)

``rewrite_oracle_round`` rewrites ``round(expr, n)`` calls inside
authored oracle SQL into the floor form (paren-aware), so oracle
strings stay readable while the executed SQL matches Spark exactly.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F


def rnd(col: Column | str, n: int) -> Column:
    """Deterministic round-half-up via floor (see module docstring).

    NOTE: safe for PER-ROW values and ratios of deterministic inputs.
    For rounded SUMS/AVGS over many doubles use :func:`fixed_sum` —
    parallel accumulation order drifts between engines by ~n·ε·|x|,
    which crosses rounding-grid boundaries once row counts grow.

    Non-finite / out-of-range values pass through UNCHANGED (same CASE
    in the oracle rewrite): Spark's floor(double) returns LONG, so the
    floor form silently turns Inf into a saturated long and NaN into 0
    — rnd(Inf) must stay Inf on both engines.
    """
    c = F.col(col) if isinstance(col, str) else col
    scale = float(10**n)
    pre = c * scale + F.lit(0.5)
    in_range = pre.between(F.lit(-(2.0**53)), F.lit(2.0**53))  # NaN/Inf ⇒ false
    return F.when(in_range, F.floor(pre) / scale).otherwise(c)


def fixed_sum(col: Column | str, scale: int = 100) -> Column:
    """Order-independent deterministic sum of a double expression.

    Each ROW is rounded to a scaled integer (identical per-row doubles ⇒
    identical ints in every engine), summed exactly in int64 (addition
    is associative), then divided back. Semantics: "sum of per-row
    values at 1/scale resolution over rows whose scaled value is finite
    and within ±2^53" — NaN/±Inf/overflow-range rows are excluded, not
    crashed on (see the in-range CASE below). Bit-identical across
    engines and partitionings at ANY row count. Oracle-side macro:
    MSUM(x) / FSUM(x, scale) (see rewrite_oracle_fixed).
    """
    c = F.col(col) if isinstance(col, str) else col
    pre = c * F.lit(float(scale)) + F.lit(0.5)
    # Robustness contract: rows whose scaled value is non-finite (NaN,
    # ±Inf) or beyond ±2^53 are EXCLUDED (NULL) — fixed-point cannot
    # represent them, and ranking them through would overflow the int64
    # sum and kill the job under ANSI mode (one dirty 1e308 row in
    # 100 TB would abort the whole pipeline). The check runs on the
    # DOUBLE, before floor: Spark's floor(double) returns LONG and maps
    # NaN to 0, so a post-floor check would silently count NaN rows as
    # zero. One abs-compare (NaN and ±Inf both fail ``<=``) instead of
    # the two-compare BETWEEN, and no cast — floor(double) is already
    # LONG. Oracle macro keeps BETWEEN: identical exclusion set.
    return F.sum(F.when(F.abs(pre) <= F.lit(2.0**53), F.floor(pre))) / F.lit(float(scale))


def _find_call(sql: str, name: str, start: int = 0, flags: int = 0) -> tuple[int, int, str] | None:
    """Locate the next ``name(`` call at or after ``start`` together with
    its matching paren; return (start_idx, end_idx_exclusive, body), or
    None when there is no call or its paren never closes."""
    m = re.search(rf"\b{name}\s*\(", sql[start:], flags=flags)
    if not m:
        return None
    open_idx = start + m.end() - 1
    depth = 0
    for i in range(open_idx, len(sql)):
        if sql[i] == "(":
            depth += 1
        elif sql[i] == ")":
            depth -= 1
            if depth == 0:
                return (start + m.start(), i + 1, sql[open_idx + 1 : i])
    return None


def _split_last_comma(body: str) -> tuple[str, str] | None:
    """Split a call body on its LAST top-level comma (``expr, n``); None
    when it has no top-level comma."""
    depth = 0
    last = -1
    for j, ch in enumerate(body):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            last = j
    if last < 0:
        return None
    return body[:last].strip(), body[last + 1 :].strip()


def _expand_macro(sql: str, name: str, build) -> str:
    out = sql
    pos = 0
    while (hit := _find_call(out, name, pos)) is not None:
        s, e, body = hit
        repl = build(body)
        out = out[:s] + repl + out[e:]
        pos = s + len(repl)
    return out


def rewrite_oracle_fixed(sql: str) -> str:
    """Expand MSUM(expr) and FSUM(expr, scale) macros in oracle SQL to
    the portable scaled-integer sum (DuckDB + any ANSI engine)."""

    def _fixed(body: str, scale: str) -> str:
        # mirror fixed_sum's robustness contract: non-finite / out-of-
        # range scaled rows are excluded (NaN/Inf fail the pre-floor
        # BETWEEN in DuckDB exactly as they fail it in Spark)
        pre = f"(({body}) * {scale}.0 + 0.5)"
        return (
            f"(sum(CASE WHEN {pre} BETWEEN -9007199254740992.0 AND 9007199254740992.0 "
            f"THEN CAST(floor{pre} AS BIGINT) END) / {scale}.0)"
        )

    def msum(body: str) -> str:
        return _fixed(body, "100")

    def fsum(body: str) -> str:
        parts = _split_last_comma(body)
        if parts is None:
            # silently proceeding would slice body[:-1] into garbage SQL
            # ("pric" * price.0) that fails far from the macro or, worse,
            # binds to something and computes wrong sums
            raise ValueError(
                f"FSUM macro requires (expr, scale) — no top-level comma in {body!r}"
            )
        return _fixed(*parts)

    return _expand_macro(_expand_macro(sql, "MSUM", msum), "FSUM", fsum)


def rewrite_oracle_round(sql: str) -> str:
    """Rewrite every ``round(expr, n)`` in oracle SQL to the floor form.

    Nested calls are rewritten INNERMOST-FIRST: the inner expression is
    rewritten recursively ONCE and the finished text spliced into the
    CASE template, then the scan continues PAST the splice. The earlier
    rescan-from-the-replacement strategy re-discovered the copies of
    ``expr`` the template embeds (three of them) and rewrote each
    independently — ~3^depth rewrite passes, so round-nesting depth ~6
    already cost 50 KB of string churn and depth 15+ effectively hung
    (r7 ADVICE). Now each original call is rewritten exactly once; the
    output still embeds the rewritten inner text three times (inherent
    to the branch-free CASE form), which is fine at the depth ≤ 2 the
    registry oracles use."""
    out: list[str] = []
    pos = 0
    while True:
        hit = _find_call(sql, "round", pos, re.IGNORECASE)
        if hit is None:
            out.append(sql[pos:])
            return "".join(out)
        s, e, body = hit
        expr, n = _split_last_comma(body) or (body, "")
        if not n.isdigit():
            # skip only the WORD "round", not the whole call: a
            # single-argument round(x) or a non-literal digits field is
            # not rewritable, but its body may itself contain
            # rewritable round(expr, n) calls that jumping to `e`
            # would leave in native form
            out.append(sql[pos : s + len("round")])
            pos = s + len("round")
            continue
        expr = rewrite_oracle_round(expr)  # nested calls, exactly once
        scale = 10 ** int(n)
        pre = f"(({expr}) * {scale}.0 + 0.5)"
        # same pass-through contract as rnd(): non-finite / out-of-range
        # values survive unrounded (NaN/Inf fail BETWEEN in DuckDB too)
        repl = (
            f"(CASE WHEN {pre} BETWEEN -9007199254740992.0 AND 9007199254740992.0 "
            f"THEN floor{pre} / {scale}.0 ELSE ({expr}) END)"
        )
        out.append(sql[pos:s])
        out.append(repl)
        pos = e


# ------------------------------------------------------ tokenizer contract
# Java regex (Spark) and RE2 (DuckDB) disagree at two points that matter
# for text kernels, found by the pathological-text fuzz
# (tests/test_text_fuzz.py):
#   - \s: Java includes \x0B (vertical tab); RE2 does not.
#   - toLowerCase: Java applies Unicode SpecialCasing — final sigma is
#     context-sensitive (ΣΑΣ → σας vs utf8proc's σασ) and İ (U+0130)
#     lowers to i + combining dot above (U+0307) where utf8proc yields
#     a bare i.
# So the tokenizer contract is EXPLICIT and implemented identically on
# both engines:
#   whitespace  = [\t\n\x0B\f\r ] (ASCII, spelled out)
#   casefold(x) = lower(x), then ς→σ, then strip U+0307
WS_CHARS = r"\t\n\x0B\f\r "  # regex-escape spellings, valid in Java and RE2
WS_CLASS = f"[{WS_CHARS}]"
NON_WS_CLASS = f"[^{WS_CHARS}]"


def casefold_col(text: Column) -> Column:
    """Engine-side casefold per the contract: lower, fold final sigma,
    strip the combining dot above that Java lowercasing introduces for
    İ (translate deletes chars with no counterpart)."""
    return F.translate(F.lower(text), "\u03c2\u0307", "\u03c3")


def casefold_sql(col: str = "text") -> str:
    """Oracle-side casefold — identical output to :func:`casefold_col`
    (DuckDB's lower already folds sigma to σ and drops İ's dot; the
    replaces align any PRE-EXISTING ς / U+0307 in the input)."""
    return f"replace(replace(lower({col}), 'ς', 'σ'), chr(775), '')"


def tokens_sql(col: str = "text") -> str:
    """Oracle-side whitespace tokens of case-folded text — the exact
    twin of ``operators.dedup.tokens_col``."""
    return f"string_split_regex(trim({casefold_sql(col)}), '{WS_CLASS}+')"


def ntokens_sql(col: str = "text") -> str:
    """Oracle-side token count: number of non-whitespace runs (0 for
    empty/blank — counting runs needs no trim/empty special-case, where
    length(split(...)) yields 1 for '')."""
    return f"length(regexp_extract_all({col}, '{NON_WS_CLASS}+'))"
