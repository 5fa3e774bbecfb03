"""Type-widening lattice + additive schema merge.

Re-expresses the reference's hand-built type BST
(``/root/reference/typeutils/fields.go:18-28`` ``typecastTree``):
``BOOL < INT64 < FLOAT64 < STRING > TIMESTAMP`` — anything may widen to
string; int may widen to double. Its LCA walk (``fields.go:182-205``) is
``operators.infer.merge_tokens``, the one that payload inference runs.
Here the lattice drives *schema evolution policy* (what the lake table will
accept as an in-place widening) instead of per-record casting: Spark columns
are statically typed, so the lattice runs once per schema change, never per
row.

Policy (SURVEY.md §7.3 hard-part 3): additive columns always OK; widening
along the lattice OK; narrowing never.
"""

from __future__ import annotations

from pyspark.sql import types as T

# rank in the widening chain BOOL -> INT64 -> FLOAT64 -> STRING;
# TIMESTAMP widens only to STRING (reference: string is the top type).
_WIDEN_RANK = {
    "boolean": 0,
    "byte": 1,
    "short": 1,
    "integer": 1,
    "long": 1,
    "float": 2,
    "double": 2,
    "string": 3,
}


def _simple(dt: T.DataType) -> str:
    return dt.typeName()


_PHYS_ORDER = ["byte", "short", "integer", "long", "float", "double"]


def can_widen(src: T.DataType, dst: T.DataType) -> bool:
    """True iff a column of type ``src`` may evolve in place to ``dst``."""
    if src == dst:
        return True
    s, d = _simple(src), _simple(dst)
    if d == "string":
        return True  # string is the lattice top (typeutils/fields.go:18-28)
    if s in _WIDEN_RANK and d in _WIDEN_RANK:
        if d == "float" and s in ("integer", "long"):
            # float32's 24-bit mantissa cannot hold 32/64-bit ints —
            # the reference lattice has only FLOAT64 above INT64, so a
            # lossless widen must target double
            return False
        if _WIDEN_RANK[s] != _WIDEN_RANK[d]:
            return _WIDEN_RANK[s] <= _WIDEN_RANK[d]
        # same lattice rank, different physical width (long vs int,
        # double vs float): only the non-narrowing direction is a widen
        # — rank equality alone would bless long->int, silently
        # truncating values > 2^31 ("narrowing never" policy)
        return _PHYS_ORDER.index(s) <= _PHYS_ORDER.index(d)
    return False


def merge_schemas(
    current: T.StructType, incoming: T.StructType
) -> tuple[T.StructType, list[str]]:
    """Additive merge: current columns keep position/type (or widen along the
    lattice); new incoming columns append as nullable. Returns
    (merged schema, list of human-readable changes). Raises on narrowing.
    """
    from gear5_spark.lake.table import SchemaEvolutionError

    by_name = {f.name: f for f in incoming.fields}
    changes: list[str] = []
    out: list[T.StructField] = []
    for f in current.fields:
        inc = by_name.pop(f.name, None)
        if inc is None or inc.dataType == f.dataType or isinstance(
            inc.dataType, T.NullType
        ):
            out.append(f)
            continue
        if can_widen(f.dataType, inc.dataType):
            out.append(T.StructField(f.name, inc.dataType, True))
            changes.append(
                f"widen {f.name}: {f.dataType.simpleString()} -> "
                f"{inc.dataType.simpleString()}"
            )
            continue
        if can_widen(inc.dataType, f.dataType):
            out.append(f)  # incoming is narrower; existing type absorbs it
            continue
        raise SchemaEvolutionError(
            f"incompatible change for column {f.name}: "
            f"{f.dataType.simpleString()} vs {inc.dataType.simpleString()}"
        )
    for name, f in by_name.items():
        dt = T.StringType() if isinstance(f.dataType, T.NullType) else f.dataType
        out.append(T.StructField(name, dt, True))
        changes.append(f"add column {name}: {dt.simpleString()}")
    return T.StructType(out), changes
