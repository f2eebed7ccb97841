"""Python-`repr` rendering of doubles as a pure JVM expression.

The reference renders packed-bin floats with Python f-strings
(main.py:163-170, 239-244), i.e. CPython ``repr``: the shortest decimal
that round-trips, printed positionally when the decimal exponent is in
[-4, 16) and as ``d[.ddd]e±XX`` scientific outside it. DuckDB's
``DOUBLE::VARCHAR`` emits the identical bytes, which is what makes the
snapshot oracle byte-comparable.

Java's ``Double.toString`` (the engine behind Spark's double→string cast)
produces the same shortest digit sequence but different FORMATTING
thresholds: it switches to ``d.dddE±X`` scientific whenever |x| < 1e-3 or
|x| >= 1e7, and never zero-pads the exponent. So ``0.0001`` renders as
``1.0E-4`` and ``5e-05`` as ``5.0E-5``.

:func:`py_float_repr_sql` converts the Java rendering to the CPython one
with pure string expressions, as SQL text that the snapshot statement
(plans/traderjoe.py) splices in, so strict-parity mode needs no Python
worker round trip (the pandas-UDF form it replaces cost two
ArrowEvalPython stages in the snapshot pipeline). A Column is
``F.expr(py_float_repr_sql("CAST(x AS STRING)"))``. Two structural
tricks keep the expression tree small enough to evaluate fast:

- the derived parts (digit string, exponent, sign) are bound ONCE per row
  through a single-element ``transform`` lambda — a poor man's LET
  binding; naive composition would splice the digit-extraction subtree
  into every one of its ~6 uses (Spark's subexpression elimination does
  not reach across CASE WHEN branches, so the duplicated work is real);
- Java's mantissa is already trailing-zero-free except the integral
  ``d.0`` form, so "strip the point and trim zeros" reduces to one
  conditional ``translate`` — no regexp.

Byte equality with CPython over adversarial + random values is pinned by
tests/test_scalar_functions.py::test_py_float_repr_expr.

Exact regime: byte-identical to CPython repr for 0, ±nan/inf, and every
NORMAL double with |x| < 2^63 (~9.2e18). JDK 17's ``Double.toString`` is
not always shortest for |x| >= 2^53 (it prints the integer's digits), so
in 2^53 <= |x| < 2^63 the renderer rebuilds the shortest digits from the
exact integer ``CAST(abs(x) AS BIGINT)`` — the per-bin token amounts of
the packed strings reach this range when a large uint reserve has few
decimals (6 or 8). Outside the regime — |x| >= 2^63 and denormals below
~2.2e-308 — Java can emit more (still round-tripping) digits than
CPython's shortest form, so the bytes can differ while the VALUE parses
identically. The pandas-UDF ``py_float_repr`` remains the anywhere-exact
fallback.

Scale note: a handful of string primitives inside the scan's projection —
O(len) per value, no shuffle, no Python worker; a value in 2^53 <= |x| <
2^63 also parses a few candidate digit strings back to doubles.
"""

from __future__ import annotations

_MAX = 2147483647


def _render_parts_sql(p: str) -> str:
    """CPython rendering from the bound parts struct ``p`` (d=digits,
    e=exp, n=neg); ``p.d`` etc. are lambda-variable reads, evaluated
    parts, not re-spliced subtrees."""
    d, e, n = f"{p}.d", f"{p}.e", f"{p}.n"
    abs_e = f"CAST(abs({e}) AS STRING)"
    # scientific: d[.rest]e±XX (exponent zero-padded to >= 2 digits;
    # lpad would TRUNCATE 3-digit exponents)
    sci = (
        f"concat(CASE WHEN length({d}) > 1 THEN concat(substring({d}, 1, 1), '.', substring({d}, 2, {_MAX}))"
        f" ELSE {d} END, 'e', CASE WHEN {e} < 0 THEN '-' ELSE '+' END,"
        f" CASE WHEN length({abs_e}) < 2 THEN concat('0', {abs_e}) ELSE {abs_e} END)"
    )
    # positional, e in [-4, -1]: 0.<zeros><digits>
    small_pos = f"concat('0.', repeat('0', -{e} - 1), {d})"
    # positional, e in [7, 15]: point after e+1 digits, zero-padded;
    # integral values carry ".0"
    big_pos = (
        f"CASE WHEN length({d}) <= {e} + 1 THEN concat(rpad({d}, {e} + 1, '0'), '.0')"
        f" ELSE concat(substring({d}, 1, {e} + 1), '.', substring({d}, {e} + 2, {_MAX})) END"
    )
    return (
        f"concat(CASE WHEN {n} THEN '-' ELSE '' END,"
        f" CASE WHEN {e} < -4 OR {e} >= 16 THEN {sci} WHEN {e} < 0 THEN {small_pos} ELSE {big_pos} END)"
    )


def _shortest_integral_sql(j: str) -> str:
    """The parts struct (d=digits, e=exp, n=neg) of the shortest
    round-trip digits of the double ``j`` renders, for 2^53 <= |x| < 2^63,
    where every double is an integer and ``CAST(abs(x) AS BIGINT)`` holds
    its exact digits ``q.d``.

    For n = 1, 2, … the half-even rounding of ``q.d`` to n digits is the
    n-digit decimal nearest to ``|x|``; the first that parses back to
    ``|x|`` is CPython's shortest, nearest repr. Only at a power of two
    is the rounding interval lopsided, so that the farther neighbour
    could round-trip where the nearer does not; the ten powers of two in
    the range are in the renderer test. Rounding works on the digit
    string (``bround`` needs a foldable scale). An n-digit decimal is at
    most one ulp (<= 1024) from ``|x|`` only when the digits it drops
    beyond the last four are all 0 or all 9, so the search starts past
    them, and ``coalesce`` (lazy) stops it at the first hit."""
    d, p, r, k = "q.d", "substring(q.d, 1, n)", "substring(q.d, n + 1)", "(length(q.d) - n)"
    half = f"rpad('5', {k}, '0')"
    up = f"({r} > {half} OR ({r} = {half} AND {k} > 0 AND substring({p}, n, 1) IN ('1', '3', '5', '7', '9')))"
    m = f"CASE WHEN {up} THEN CAST(CAST({p} AS BIGINT) + 1 AS STRING) ELSE {p} END"
    hit = f"get(filter(array(named_struct('m', {m}, 'k', {k})), t -> CAST(concat(t.m, 'E', t.k) AS DOUBLE) = q.a), 0)"
    start = f"greatest(1, length({d}) - 4 - length(regexp_extract(substring({d}, 1, length({d}) - 4), '(0*|9*)$', 1)))"
    # m ends in zeros only by a carry ("10")
    parts = f"named_struct('d', trim(TRAILING '0' FROM c.m), 'e', length(c.m) - 1 + c.k, 'n', startswith({j}, '-'))"
    bound = f"named_struct('d', CAST(CAST(abs(CAST({j} AS DOUBLE)) AS BIGINT) AS STRING), 'a', abs(CAST({j} AS DOUBLE)))"
    return (
        f"get(transform(array({bound}), q -> aggregate(sequence({start}, 17),"
        f" CAST(NULL AS STRUCT<m: STRING, k: INT>), (c, n) -> coalesce(c, {hit}), c -> {parts})), 0)"
    )


def py_float_repr_sql(j: str) -> str:
    """SQL text rendering a double exactly as CPython ``repr`` would, from
    ``j``: the text of Spark's own rendering ``CAST(x AS STRING)``, best a
    column or lambda variable since it is spliced several times.

    Handles NaN/±Infinity (Java ``NaN``/``Infinity`` → ``nan``/``inf``),
    negative zero, integral doubles, and both scientific-notation regimes.
    NULL in → NULL out (same contract as the pandas-UDF form it replaces).
    """
    # Java scientific form "<mant>E<exp>", mant = [-]d.d+ with exactly one
    # integer digit and shortest fraction, so the only trailing zero is
    # the integral "[-]d.0" form, whose digit is third from the end.
    mant = f"substring_index({j}, 'E', 1)"
    digits = f"CASE WHEN endswith({mant}, '.0') THEN substring({mant}, -3, 1) ELSE translate({mant}, '-.', '') END"
    exp = f"CAST(substring_index({j}, 'E', -1) AS INT)"
    # JDK 17 prints the integer's digits, not the shortest ones, for
    # 2^53 <= |x| < 2^63 (exponents 15-18): rebuild them there
    regime = (
        f"{exp} BETWEEN 15 AND 18 AND abs(CAST({j} AS DOUBLE)) >= 9007199254740992D"
        f" AND abs(CAST({j} AS DOUBLE)) < 9223372036854775808D"
    )
    parts = (
        f"CASE WHEN {regime} THEN {_shortest_integral_sql(j)}"
        f" ELSE named_struct('d', {digits}, 'e', {exp}, 'n', startswith({j}, '-')) END"
    )
    # bind (digits, exp, neg) once via a 1-element transform — the lambda
    # body reads them as variables instead of re-evaluating the extraction
    # subtree at every use site
    from_sci = f"get(transform(array({parts}), p -> {_render_parts_sql('p')}), 0)"
    return (
        f"CASE WHEN {j} = 'NaN' THEN 'nan' WHEN {j} = 'Infinity' THEN 'inf' WHEN {j} = '-Infinity' THEN '-inf'"
        # Java positional regime (1e-3 <= |x| < 1e7, and 0.0): CPython is
        # also positional there (its window is the wider [1e-4, 1e16)) with
        # the same shortest digits — pass through.
        f" WHEN contains({j}, 'E') THEN {from_sci} ELSE {j} END"
    )
