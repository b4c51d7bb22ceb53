"""Engine-independent (bit-deterministic) transcendental surrogates.

Why this exists: the Spark↔DuckDB oracle gate hashes exact values, and
the two engines' ``ln``/``exp``/``pow`` implementations (JVM ``Math.log``
vs libm) may disagree in the last ulp. Whenever a query must EMIT a
log-derived float (rather than use it as an ordering-only key, the q76
pattern), a last-ulp disagreement can flip a ``floor``/``round`` grid
cell — the exact failure class of the round-8 driver reds (q276/q279).

The fix is to compute the logarithm from operations that IEEE 754
*requires* to be correctly rounded — ``+ - * /`` and ``sqrt`` — which
both the JVM (all-strictfp since Java 17) and libm implement
bit-identically. ``det_ln`` evaluates

    ln(x) ≈ 2^K · (t − t²/2 + t³/3),   t = x^(1/2^K) − 1,  K = 20

as a fixed chain of 20 ``sqrt`` calls plus a cubic series. Because every
step is a single correctly-rounded IEEE op applied in the same order,
Spark and DuckDB produce the *same double, bit for bit* — the truncation
error vs true ln(x) (≈5e-11 relative, dominated by sqrt-chain rounding;
series truncation adds only ~1e-13 absolute for |ln x| ≤ 30) is shared
by both engines and therefore invisible to the hash gate. The surrogate
is the spec: oracles and twin tests compute the same formula.

Domain: x > 0 (x = 0 yields t = −1, a finite garbage value — callers
must guard zero inputs with CASE/when exactly as they would for ln).
Accuracy degrades (t grows) once |ln x| ≫ 30, i.e. x outside
[1e-13, 1e13]; assert-guard callers that can exceed that.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

#: sqrt-chain depth: t = x^(1/2^K) − 1 ≤ |ln x|/2^K ≈ 3e-5 for |ln x| ≤ 30.
DET_LN_K = 20
_SCALE = float(2**DET_LN_K)  # 1048576.0, exact in double


def det_ln(x: Column) -> Column:
    """Bit-deterministic natural log of a positive double column."""
    s = x
    for _ in range(DET_LN_K):
        s = F.sqrt(s)
    t = s - F.lit(1.0)
    # ((t − (t·t)/2) + ((t·t)·t)/3) · 2^K — shape must match det_ln_sql.
    return (t - t * t / F.lit(2.0) + t * t * t / F.lit(3.0)) * F.lit(_SCALE)


def det_ln_sql(expr: str, binder: str = "t") -> tuple[str, str]:
    """SQL building blocks mirroring :func:`det_ln` op-for-op.

    Returns ``(t_expr, series_expr)``: bind ``t_expr`` to a column named
    ``binder`` in one CTE stage (so the sqrt chain is evaluated once),
    then use ``series_expr`` (which references ``binder``) in the next
    stage. Two stages keep the oracle readable and stop DuckDB from
    re-evaluating the 20-deep sqrt chain per series term.
    """
    s = expr
    for _ in range(DET_LN_K):
        s = f"sqrt({s})"
    t_expr = f"({s} - 1.0)"
    series = (
        f"(({binder} - {binder}*{binder}/2.0 "
        f"+ {binder}*{binder}*{binder}/3.0) * {_SCALE!r})"
    )
    return t_expr, series


#: Taylor degree for det_exp_small_sql: |x| ≤ 1 ⟹ truncation ≤ 1/14! ≈ 1.1e-11.
_EXP_DEG = 13
#: Horner coefficients 1/13!, 1/12!, …, 1/1!, 1/0! as exact double literals.
_EXP_COEFFS = [1.0 / math.factorial(k) for k in range(_EXP_DEG, -1, -1)]


def det_exp_small_sql(binder: str) -> str:
    """Bit-deterministic exp for |x| ≤ 1 (e.g. bounded sigmoid logits),
    as SQL text valid in both Spark and DuckDB; ``binder`` must name a
    column already bound to the argument (it is referenced 13 times).

    Fixed-shape Horner evaluation of the degree-13 Taylor polynomial with
    shared double literals — every step a correctly-rounded IEEE op, so
    Spark and DuckDB agree bit-for-bit (engine ``exp`` does not). Callers
    must bound the argument: |x| ≤ 1 keeps truncation ≤ 1.1e-11 relative
    (deterministic either way, but past ~|x|=2 the value stops being a
    faithful exp).
    """
    e = repr(_EXP_COEFFS[0])
    for c in _EXP_COEFFS[1:]:
        e = f"({e} * {binder} + {c!r})"
    return e


# ---------------------------------------------------------------------------
# Integer-only fixed-point logarithm (Q36).
#
# det_ln is bit-deterministic ONLY if both engines execute its double ops
# exactly as written; a build compiled with FP contraction (fused
# multiply-add) or an expression rewriter that reassociates evaluates a
# DIFFERENT sequence and the "same double, bit for bit" guarantee dies —
# the round-8..10 q276 driver reds survived three double-based fixes, so
# the emitted grid value must never touch a double at all. det_ln_q36
# computes ln(max(v,1)) for a BIGINT column as a Q36 fixed-point BIGINT
# using ONLY int64 +, -, *, integer division and comparisons — operations
# every engine defines exactly, immune to any float build flag.
#
# Algorithm (all quantities int64, every intermediate proven < 2^63):
#   1. e = floor(log2 v) via a staged binary ladder: six steps that each
#      test x >= 2^s for s = 32, 16, 8, 4, 2, 1 and divide x by 2^s when
#      it holds (pure integer; a 62-comparison linear ladder made q276's
#      stage overflow the JVM's 64 KB method limit under codegen).
#   2. M = v normalized into [2^31, 2^32) (shift by multiply/div with a
#      power-of-two table; Q31 mantissa, truncation <= 2^-31 relative).
#   3. Table reduction: c = 1 + i/64 with i = top 6 mantissa bits;
#      R = floor(M*2^31 / C) is m/c in Q31, in [1, 1+1/64].
#   4. z = (m'-1)/(m'+1) in Q36 (z <= 1/129), atanh series
#      ln m' ~= 2*(z + z^3/3); the z^5 tail (<=1.1e-11) is below the
#      fixed-point noise floor.
#   5. ln v = e*LN2 + ln(1+i/64) + ln m', constants pre-rounded to Q36
#      Python ints (identical literals in both dialects).
# Total error vs true ln: < 1.5e-9 absolute (R truncation 4.7e-10 dominates;
# ladder/table/series each <= 2e-11). Deterministic regardless of accuracy.
#
# Domain: 1 <= v < 2^62 (callers pass exact count products; v <= nn^2 needs
# nn < 2^31). v <= 0 clamps to 1 (ln = 0) so gated CASE branches never
# divide by zero when an engine evaluates both sides of the gate.
# ---------------------------------------------------------------------------
Q36 = 1 << 36
LN2_Q36 = round(math.log(2.0) * Q36)
_LNC_Q36 = [round(math.log(1.0 + i / 64.0) * Q36) for i in range(64)]
_POW2 = [1 << k for k in range(32)]  # _POW2[k] = 2^k
_LADDER = (32, 16, 8, 4, 2, 1)  # binary-search shifts; covers e <= 63


def _idiv(a: str, b: str, dialect: str) -> str:
    """Integer division token: Spark `div`, DuckDB `//` (operands are
    always nonnegative here, so truncation == floor in both)."""
    op = "div" if dialect == "spark" else "//"
    return f"({a} {op} {b})"


def _elem(vals: list[int], idx: str, dialect: str) -> str:
    """1-based constant-array lookup in either dialect."""
    lits = ", ".join(str(v) for v in vals)
    if dialect == "spark":
        # element_at requires an INT index; idx expressions here are
        # BIGINT arithmetic, so cast (values are tiny, 1..64).
        return f"element_at(array({lits}), CAST({idx} AS INT))"
    return f"list_extract([{lits}], {idx})"


def det_ln_q36_stages(
    args: dict[str, str], dialect: str
) -> list[dict[str, str]]:
    """Staged SQL for Q36 integer ln of each expr in ``args``.

    Returns a list of stages; each stage maps new column names to SQL
    expressions referencing only input columns and earlier stages. After
    applying all stages, ``{prefix}_ln`` holds det_ln_q36(expr) for every
    ``{prefix: expr}`` pair. The staging exists so each intermediate is
    evaluated once (no engine-dependent CSE assumptions).
    """
    d = dialect
    s_v: dict[str, str] = {}
    s_ladder: list[dict[str, str]] = [{} for _ in _LADDER]
    s_m: dict[str, str] = {}
    s_r: dict[str, str] = {}
    s_z: dict[str, str] = {}
    s_ln: dict[str, str] = {}
    for p, expr in args.items():
        v, e, m, r, z = f"{p}_v", f"{p}_e", f"{p}_m", f"{p}_r", f"{p}_z"
        s_v[v] = f"greatest(CAST({expr} AS BIGINT), CAST(1 AS BIGINT))"
        # Binary ladder: step j tests x >= 2^sh, adding sh to e and
        # dividing x by 2^sh when it holds; the last step writes e.
        x, e_acc = v, "0"
        for j, sh in enumerate(_LADDER):
            hit = f"{x} >= {1 << sh}"
            last = j == len(_LADDER) - 1
            e_j = e if last else f"{p}_e{j}"
            s_ladder[j][e_j] = f"({e_acc} + (CASE WHEN {hit} THEN {sh} ELSE 0 END))"
            if not last:
                s_ladder[j][f"{p}_x{j}"] = (
                    f"(CASE WHEN {hit} THEN {_idiv(x, str(1 << sh), d)} ELSE {x} END)"
                )
            x, e_acc = f"{p}_x{j}", e_j
        # Normalize to Q31 mantissa in [2^31, 2^32). Index clamps keep the
        # not-taken CASE branch in-domain when an engine evaluates both.
        mul = _elem(_POW2, f"greatest(1, 32 - {e})", d)
        div = _elem(_POW2, f"greatest(1, {e} - 30)", d)
        s_m[m] = (
            f"(CASE WHEN {e} <= 31 THEN {v} * {mul} "
            f"ELSE {_idiv(v, div, d)} END)"
        )
        # R = floor(M*2^31 / C) with C = (M div 2^25)*2^25 = (1+i/64)*2^31.
        s_r[r] = _idiv(
            f"({m} * 2147483648)",
            f"({_idiv(m, '33554432', d)} * 33554432)",
            d,
        )
        s_z[z] = _idiv(f"(({r} - 2147483648) * {Q36})", f"({r} + 2147483648)", d)
        z3 = _idiv(
            f"({_idiv(f'({z} * {z})', str(Q36), d)} * {z})", str(Q36), d
        )
        lnc = _elem(_LNC_Q36, f"({_idiv(m, '33554432', d)} - 63)", d)
        s_ln[f"{p}_ln"] = (
            f"({e} * {LN2_Q36} + {lnc} + 2 * ({z} + {_idiv(z3, '3', d)}))"
        )
    return [s_v, *s_ladder, s_m, s_r, s_z, s_ln]


def det_ln_q36_py(v: int) -> int:
    """Pure-Python reference twin of the staged SQL (exact big-int ops)."""
    v = max(int(v), 1)
    e, x = 0, v
    for sh in _LADDER:
        if x >= 1 << sh:
            e, x = e + sh, x // (1 << sh)
    # SQL lookups are 1-based (element k holds 2^(k-1)): index 32-e is
    # 2^(31-e); index e-30 is 2^(e-31).
    m = v * _POW2[31 - e] if e <= 31 else v // _POW2[e - 31]
    r = (m * 2147483648) // ((m // 33554432) * 33554432)
    z = ((r - 2147483648) * Q36) // (r + 2147483648)
    z3 = ((z * z) // Q36 * z) // Q36
    lnc = _LNC_Q36[(m // 33554432) - 63 - 1]
    return e * LN2_Q36 + lnc + 2 * (z + z3 // 3)
