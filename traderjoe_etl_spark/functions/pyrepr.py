"""Python-`repr` rendering of doubles as a pure JVM expression.

The reference renders packed-bin floats with Python f-strings
(main.py:163-170, 239-244), i.e. CPython ``repr``: the shortest decimal
that round-trips, printed positionally when the decimal exponent is in
[-4, 16) and as ``d[.ddd]e±XX`` scientific outside it. DuckDB's
``DOUBLE::VARCHAR`` emits the identical bytes, which is what makes the
snapshot oracle byte-comparable.

The shortest digits come from the Schubfach writer Spark already ships,
jackson-core's ``NumberOutput.toString(x, true)`` (the algorithm behind
JDK 19+ ``Double.toString``; JDK 17's is not always shortest, e.g.
``9.999999999999999E22`` for 1e23), called through ``reflect``. Its
output has Java's FORMATTING thresholds: ``d.dddE±X`` scientific whenever
|x| < 1e-3 or |x| >= 1e7, with no exponent padding. So ``0.0001`` renders
as ``1.0E-4`` and ``5e-05`` as ``5.0E-5``.

:func:`py_float_repr_sql` converts that Java form to the CPython one with
pure string expressions, as SQL text that the snapshot statement
(plans/traderjoe.py) splices in, so strict-parity mode needs no Python
worker round trip. A Column is ``F.expr(py_float_repr_sql("x"))``. Two
structural tricks keep the expression tree small enough to evaluate fast:

- the Java form and its derived parts (digit string, exponent, sign) are
  each bound ONCE per value through a single-element ``transform``
  lambda — a poor man's LET binding; naive composition would splice the
  ``reflect`` call and the digit-extraction subtree into every one of
  their uses (Spark's subexpression elimination does not reach across
  CASE WHEN branches, so the duplicated work is real);
- the Java mantissa is already trailing-zero-free except the integral
  ``d.0`` form, so "strip the point and trim zeros" reduces to one
  conditional ``translate`` — no regexp.

``reflect`` is nondeterministic to the analyzer, which refuses it inside
an aggregate function's arguments: render after the aggregate (see
``operators/aggregates.py::packed_string_sql``).

Exact regime: byte-identical to CPython repr for 0, ±nan/inf and every
NORMAL double, pinned over adversarial + random values by
tests/test_scalar_functions.py::test_py_float_repr_expr. Denormals
(below ~2.2e-308) keep the value but not always the bytes: the Java form
prints at least two significant digits, ``4.9E-324`` where CPython
prints ``5e-324``.

Scale note: one reflective call and a handful of string primitives per
value inside the projection — O(len) per value, no shuffle, no Python
worker.
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


def py_float_repr_sql(x: str) -> str:
    """SQL text rendering the double ``x`` exactly as CPython ``repr``
    would; ``x`` is best a column or lambda variable since it is spliced
    twice.

    Handles NaN/±Infinity (Java ``NaN``/``Infinity`` → ``nan``/``inf``),
    negative zero, integral doubles, and both scientific-notation regimes.
    NULL in → NULL out: a bare ``reflect`` throws on NULL, so it is
    guarded rather than wrapped in ``try_reflect``, which would hide any
    other failure.
    """
    java = f"CASE WHEN {x} IS NOT NULL THEN reflect('com.fasterxml.jackson.core.io.NumberOutput', 'toString', {x}, true) END"
    # Java scientific form "<mant>E<exp>", mant = [-]d.d+ with exactly one
    # integer digit and shortest fraction, so the only trailing zero is
    # the integral "[-]d.0" form, whose digit is third from the end.
    mant = "substring_index(j, 'E', 1)"
    digits = f"CASE WHEN endswith({mant}, '.0') THEN substring({mant}, -3, 1) ELSE translate({mant}, '-.', '') END"
    parts = f"named_struct('d', {digits}, 'e', CAST(substring_index(j, 'E', -1) AS INT), 'n', startswith(j, '-'))"
    render = (
        "CASE WHEN j = 'NaN' THEN 'nan' WHEN j = 'Infinity' THEN 'inf' WHEN j = '-Infinity' THEN '-inf'"
        f" WHEN contains(j, 'E') THEN get(transform(array({parts}), p -> {_render_parts_sql('p')}), 0)"
        # Java positional regime (1e-3 <= |x| < 1e7, and 0.0): CPython is
        # also positional there (its window is the wider [1e-4, 1e16)) with
        # the same shortest digits — pass through.
        " ELSE j END"
    )
    return f"get(transform(array({java}), j -> {render}), 0)"
