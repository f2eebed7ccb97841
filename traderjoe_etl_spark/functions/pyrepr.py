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
NORMAL double with |x| < 2^53 (~9.0e15). Outside it — |x| >= 2^53 and
denormals below ~2.2e-308 — Java emits more (still round-tripping) digits
than CPython's shortest form, so the bytes can differ while the VALUE
parses identically. The packed-bin strings this feeds render token/fee
amounts; a per-bin token amount reaches 2^53 when a large uint reserve
has few decimals (6 or 8), and then only its value matches CPython. The
pandas-UDF ``py_float_repr`` remains the anywhere-exact fallback.

Scale note: a handful of string primitives inside the scan's projection —
O(len) per value, no shuffle, no Python worker.
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
    # bind (digits, exp, neg) once via a 1-element transform — the lambda
    # body reads them as variables instead of re-evaluating the extraction
    # subtree at every use site
    from_sci = (
        f"get(transform(array(named_struct('d', {digits}, 'e', {exp}, 'n', startswith({j}, '-'))),"
        f" p -> {_render_parts_sql('p')}), 0)"
    )
    return (
        f"CASE WHEN {j} = 'NaN' THEN 'nan' WHEN {j} = 'Infinity' THEN 'inf' WHEN {j} = '-Infinity' THEN '-inf'"
        # Java positional regime (1e-3 <= |x| < 1e7, and 0.0): CPython is
        # also positional there (its window is the wider [1e-4, 1e16)) with
        # the same shortest digits — pass through.
        f" WHEN contains({j}, 'E') THEN {from_sci} ELSE {j} END"
    )
