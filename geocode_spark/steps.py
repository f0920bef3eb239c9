"""Staged formulas: one ordered list of named steps, run by three runners.

A formula that both the engine and its DuckDB oracle evaluate (the
transverse-Mercator series in operators/projection.py, the address grammar
in grammar.py, the geohash in operators/spatial.py) is written ONCE, as a
list of ``(name, expression)`` steps whose expressions use only SQL common
to Spark and DuckDB. A step may read the input columns and any earlier step
by name, so no subterm is ever spelled out twice and no expression grows
with the number of its uses.

- numpy (`eval_steps`): each expression parsed once into a tree of numpy
  operations over float64 arrays. It runs the projection lists inside the
  Arrow stage that already holds the batch: geocode()'s kernels and
  projection.reproject_result. It accepts only the arithmetic subset those
  lists use (see `eval_steps`) and raises ValueError on anything else.
- Spark (`with_steps`): a chain of ``withColumn`` projections, then a
  ``drop`` of the temporaries. It stays only where the list's columns feed
  SQL that the runner does not evaluate: the geohash bit steps
  (spatial.geohash_encode), the haversine and argmin join of
  spatial.nearest_hub and the ``utm_wgs84_roundtrip`` contract query's
  pairing of input and output. Each staged subterm is a real column, which
  also keeps every generated expression small enough for whole-stage
  codegen to split across methods.
- DuckDB (`steps_sql`): a chain of ``SELECT *, <step> AS <name> FROM (...)``
  subqueries ending in ``SELECT * EXCLUDE (<temporaries>)``. Every oracle
  runs this form; the differential tests compare the other two with it.

Step names must be new to the input relation and unique within the list.
The names in `keep` stay in the output; every other step is a temporary and
is dropped.
"""

from __future__ import annotations

import ast
import functools
import math
import re

import numpy as np

Steps = list[tuple[str, str]]


def _temps(steps: Steps, keep) -> list[str]:
    return [name for name, _ in steps if name not in keep]


def with_steps(df, steps: Steps, keep=()):
    """Spark: add each step as a column, in order, then drop the temporaries."""
    from pyspark.sql import functions as F

    for name, expr in steps:
        df = df.withColumn(name, F.expr(expr))
    return df.drop(*_temps(steps, keep))


def steps_sql(relation: str, steps: Steps, keep=()) -> str:
    """DuckDB: a parenthesized subquery over `relation` (a table name or a
    parenthesized query) with its columns plus the kept steps."""
    sql = relation
    for name, expr in steps:
        sql = f"(SELECT *, {expr} AS {name} FROM {sql})"
    temps = _temps(steps, keep)
    if not temps:
        return sql
    return f"(SELECT * EXCLUDE ({', '.join(temps)}) FROM {sql})"


# ------------------------------------------------------------ numpy runner
# A value is (float64 array or scalar, NULL mask or None when nothing is
# NULL); every operation of the subset is NULL in, NULL out.

def _libm(fn):
    """`fn` from math, the C library's, element by element. numpy 1.26's
    AVX-512 tan and log differ from the C library in the last bit on a
    quarter to two fifths of inputs, and DuckDB calls the C library;
    numpy's sin, cos and sqrt agree with it, so those stay ufuncs."""
    def apply(v):
        v = np.asarray(v, dtype=np.float64)
        return np.fromiter(map(fn, v.ravel().tolist()), np.float64,
                           v.size).reshape(v.shape)
    return apply


def _tan(v):
    v = np.asarray(v, dtype=np.float64)
    return _libm(math.tan)(np.where(np.isinf(v), np.nan, v))


def _ln(v, null):
    """v <= 0 gives NULL (Spark); DuckDB raises there."""
    v = np.asarray(v, dtype=np.float64)
    bad = v <= 0
    out = _libm(math.log)(np.where(bad, 1.0, v))
    return out, _or(null, bad if bad.any() else None)


def _round(v, null, d):
    """DuckDB's round(double, d >= 0): std::round (half away from zero) of
    v * 10^d, divided by 10^d; a result that is not finite returns v.
    Spark rounds the shortest decimal form of v half up instead, so the
    two engines differ where v * 10^d lands within an ulp of a half."""
    p = 10.0 ** d
    t = np.asarray(v, dtype=np.float64) * p
    r = np.trunc(t)
    out = (r + np.copysign(np.abs(t - r) >= 0.5, t)) / p
    return np.where(np.isfinite(out), out, v), null


def _unary(fn):
    return lambda v, null: (fn(v), null)


# sin/cos/tan of ±inf and sqrt of v < 0 give NaN (Spark); DuckDB raises
_FUNCS = {
    "sin": _unary(np.sin),
    "cos": _unary(np.cos),
    "tan": _unary(_tan),
    "sqrt": _unary(np.sqrt),
    "ln": _ln,
    # DuckDB's constants: x * (pi / 180) and x * (180 / pi)
    "radians": _unary(lambda v: v * (math.pi / 180.0)),
    "degrees": _unary(lambda v: v * (180.0 / math.pi)),
}


def _divide(a, b):
    """a / b; a zero divisor gives NULL (DuckDB)."""
    b = np.asarray(b, dtype=np.float64)
    zero = b == 0
    out = np.asarray(a, dtype=np.float64) / np.where(zero, 1.0, b)
    return out, (zero if zero.any() else None)


_BINARY = {ast.Add: np.add, ast.Sub: np.subtract, ast.Mult: np.multiply}


def _or(a, b):
    if a is None:
        return b
    return a if b is None else a | b


_DECIMAL = re.compile(r"(\d+)\.(\d*)")
_NUMBER = re.compile(r"(\d+\.?\d*|\.\d+)([eE][-+]?\d+)?")


def _literal(text: str) -> float:
    """A numeric literal's value as DuckDB reads it: a literal with a point
    and no exponent is a DECIMAL whose digits, as an integer, are converted
    to double and divided by 10^scale (two roundings; three literals of
    the projection lists differ from Python's float() by an ulp)."""
    if _NUMBER.fullmatch(text) is None:  # 0x10, 1_000, 1j: not SQL
        raise ValueError(f"unsupported literal {text}")
    m = _DECIMAL.fullmatch(text)
    if m is None or len(m[1] + m[2]) > 38:
        return float(text)
    return float(int(m[1] + m[2])) / 10.0 ** len(m[2])


def _compile(node, src: str, names: set, free: set):
    """A closure env -> value for one expression node, or ValueError."""
    if isinstance(node, ast.Constant):
        if type(node.value) not in (int, float):
            raise ValueError(f"unsupported literal {node.value!r}")
        v = _literal(ast.get_source_segment(src, node))
        return lambda env: (v, None)
    if isinstance(node, ast.Name):
        name = node.id
        if name not in names:
            free.add(name)
        return lambda env: env[name]
    if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.USub):
        arg = _compile(node.operand, src, names, free)

        def neg(env):
            v, null = arg(env)
            return np.negative(v), null
        return neg
    if isinstance(node, ast.BinOp) and type(node.op) in (*_BINARY, ast.Div):
        left = _compile(node.left, src, names, free)
        right = _compile(node.right, src, names, free)
        op = _BINARY.get(type(node.op))

        def binary(env):
            (a, na), (b, nb) = left(env), right(env)
            if op is None:
                out, nz = _divide(a, b)
                return out, _or(_or(na, nb), nz)
            return op(a, b), _or(na, nb)
        return binary
    if (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
            and not node.keywords):
        fname, args = node.func.id, node.args
        if fname == "round" and len(args) == 2:
            d = args[1]
            if not (isinstance(d, ast.Constant) and type(d.value) is int):
                raise ValueError("round() takes a non-negative integer"
                                 " literal as its scale")
            arg = _compile(args[0], src, names, free)
            return lambda env: _round(*arg(env), d.value)
        if fname in _FUNCS and len(args) == 1:
            fn, arg = _FUNCS[fname], _compile(args[0], src, names, free)
            return lambda env: fn(*arg(env))
    raise ValueError(f"outside the numpy runner's subset: {ast.dump(node)}")


@functools.lru_cache(maxsize=64)
def _program(steps: tuple, keep: tuple):
    """The compiled steps and the input names they read."""
    names, free, program = set(), set(), []
    for name, expr in steps:
        try:
            tree = ast.parse(expr.strip(), mode="eval")
        except SyntaxError as ex:
            raise ValueError(f"step {name}: not in the numpy runner's"
                             f" subset: {ex}") from None
        program.append((name, _compile(tree.body, expr.strip(), names,
                                       free)))
        names.add(name)
    missing = set(keep) - names
    if missing:
        raise ValueError(f"kept names that are no step: {sorted(missing)}")
    return program, frozenset(free)


def eval_steps(columns, steps: Steps, keep=()) -> dict[str, np.ma.MaskedArray]:
    """numpy: the kept steps of `steps` over `columns`, a mapping of input
    name -> float64 array (a numpy masked array marks NULLs), as masked
    arrays; a NULL input gives a NULL output.

    The subset: numeric literals, names of inputs or earlier steps, unary
    ``-``, binary ``+ - * /`` and the calls sin cos tan sqrt ln radians
    degrees and round(v, d). Each expression is parsed once per list (the
    compiled list is cached). Where the engines differ, this runner
    follows DuckDB, the oracle: round is DuckDB's (see `_round`), a zero
    divisor gives NULL, and a literal is read as DuckDB reads it. Where
    DuckDB raises instead (sin/cos/tan of ±inf, ln of v <= 0, sqrt of
    v < 0) it follows Spark: NaN, NULL, NaN. Anything else, such as the
    geohash's bit steps, raises ValueError rather than evaluate
    differently from the SQL."""
    program, free = _program(tuple(steps), tuple(keep))
    missing = free - set(columns)
    if missing:
        raise ValueError(f"inputs not given: {sorted(missing)}")
    env = {}
    for name in free:
        col = columns[name]
        mask = np.ma.getmaskarray(col)
        env[name] = (np.ma.getdata(col).astype(np.float64, copy=False),
                     mask if mask.any() else None)
    n = len(next(iter(columns.values()))) if columns else 0
    with np.errstate(all="ignore"):
        for name, fn in program:
            env[name] = fn(env)
    out = {}
    for name in keep:
        v, null = env[name]
        out[name] = np.ma.MaskedArray(
            np.broadcast_to(np.asarray(v, dtype=np.float64), (n,)).copy(),
            mask=False if null is None else null)
    return out
