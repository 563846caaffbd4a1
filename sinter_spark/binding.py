"""Schema → DataFrame binding: the distributed validation pass.

The Spark lifecycle mirror of the reference's per-map pipeline
(``/root/reference/lib/sinter/validator.ex:87-105``, SURVEY.md §3):

    Schema.define (driver, pure Python)
      → bind(schema, df): analysis — resolve columns vs df.schema,
        strict check, alias coalesce (validator.ex:245-263),
        coercion exprs (types.ex:417-581)
      → constraint plan: list of (path, code, violation Column, message)
      → ONE select producing an array<violation-struct> column
        (Catalyst fuses every predicate into one whole-stage-codegen
        projection — the vectorized analogue of sinter's independent
        per-field checks, validator.ex:199-209)
      → violations = explode(non-empty arrays)   (error.ex:224-237 shape)
      → verdicts   = groupBy(spark_partition_id) (validate_many's
        index-keyed error map generalized, validator.ex:148-181)

Scale notes (100 TB design point):
* the whole pass is a narrow map — no shuffle except the tiny verdict
  aggregation (≤ #partitions rows, map-side combined);
* only referenced columns are read (column pruning keeps `bytes` out of
  scans that don't decode);
* custom validators are Arrow-batched pandas UDFs, never per-row Python.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any, Callable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as ST

from .errors import VIOLATION_DDL
from .schema import FieldDef, Schema
from .session import python_kernel
from .types import DATE_ISO_RE_JAVA, DATETIME_ISO_RE_JAVA, UUID_RE_JAVA, type_name as py_type_name

VSTRUCT_DDL = "struct<path:array<string>,code:string,message:string,context:map<string,string>>"
_EMPTY_ARR = f"array<{VSTRUCT_DDL}>"


_INT_TYPES = (ST.ByteType, ST.ShortType, ST.IntegerType, ST.LongType)
_FLOAT_TYPES = (ST.FloatType, ST.DoubleType, ST.DecimalType)


def _dtype_name(dt: ST.DataType) -> str:
    if isinstance(dt, ST.StringType):
        return "string"
    if isinstance(dt, _INT_TYPES):
        return "integer"
    if isinstance(dt, _FLOAT_TYPES):
        return "float"
    if isinstance(dt, ST.BooleanType):
        return "boolean"
    if isinstance(dt, ST.ArrayType):
        return "list"
    if isinstance(dt, (ST.MapType, ST.StructType)):
        return "map"
    if isinstance(dt, ST.BinaryType):
        return "binary"
    if isinstance(dt, ST.DateType):
        return "date"
    if isinstance(dt, ST.TimestampType):
        return "datetime"
    return dt.simpleString()


def _vstruct(path_col: Column, code: str, message: Column | str, context: Column | None = None) -> Column:
    msg = message if isinstance(message, Column) else F.lit(message)
    ctx = context if context is not None else F.lit(None)
    return F.struct(
        path_col.cast("array<string>").alias("path"),
        F.lit(code).alias("code"),
        msg.cast("string").alias("message"),
        ctx.cast("map<string,string>").alias("context"),
    )


def _path_lit(path: Sequence[str]) -> Column:
    if not path:
        return F.array().cast("array<string>")
    return F.array(*[F.lit(str(p)) for p in path])


@dataclass
class BoundCheck:
    """One violation emitter: scalar (when cond → one struct) or
    array-valued (element-level checks emit many structs per row)."""

    column: Column  # nullable struct OR array<struct>
    is_array: bool = False


@dataclass
class BoundField:
    name: str
    value: Column       # resolved (alias-coalesced, coerced) value
    output: Column      # value with default applied (projection output)
    checks: list[BoundCheck] = dc_field(default_factory=list)


class BindError(ValueError):
    """Input-format analogue at table grain (validator.ex:185-191):
    the table's shape can't satisfy the schema at all."""


# ---------------------------------------------------------------------------
# type checks: spec × Spark dtype → static verdict or runtime predicate
# ---------------------------------------------------------------------------


def _type_violation(spec: Any, col: Column, dt: ST.DataType):
    """Returns None (statically ok) | ("static", code, msg) |
    ("cond", code, cond, msg). Implements types.ex:119-387 over typed
    columns: checks that are guaranteed by the column's Spark type are
    free (no runtime work)."""
    got = _dtype_name(dt)
    if isinstance(spec, str):
        if spec == "any":
            return None
        if spec in ("string", "atom"):
            return None if isinstance(dt, ST.StringType) else ("static", "type", f"expected string, got {got}")
        if spec == "integer":
            return None if isinstance(dt, _INT_TYPES) else ("static", "type", f"expected integer, got {got}")
        if spec == "float":
            # strict: integer column fails float (types.ex:124)
            return None if isinstance(dt, _FLOAT_TYPES) else ("static", "type", f"expected float, got {got}")
        if spec == "boolean":
            return None if isinstance(dt, ST.BooleanType) else ("static", "type", f"expected boolean, got {got}")
        if spec == "map":
            return None if isinstance(dt, (ST.MapType, ST.StructType)) else ("static", "type", f"expected map, got {got}")
        if spec == "null":
            return ("cond", "type", col.isNotNull(), f"expected null, got {got}")
        if spec == "date":
            if isinstance(dt, ST.DateType):
                return None
            if isinstance(dt, ST.StringType):
                cond = ~(col.rlike(DATE_ISO_RE_JAVA) & F.try_to_timestamp(col, F.lit("yyyy-MM-dd")).isNotNull())
                return ("cond", "format", cond, "expected ISO8601 date string")
            return ("static", "type", f"expected date string, got {got}")
        if spec == "datetime":
            if isinstance(dt, (ST.TimestampType, ST.TimestampNTZType)):
                return None
            if isinstance(dt, ST.StringType):
                # anchored shape gate first: Spark's try_to_timestamp is
                # laxer than the reference (accepts date-only strings);
                # the shared regex keeps driver/binding/reference aligned
                cond = ~(
                    col.rlike(DATETIME_ISO_RE_JAVA)
                    & F.try_to_timestamp(F.replace(col, F.lit("Z"), F.lit("+00:00"))).isNotNull()
                )
                return ("cond", "format", cond, "expected ISO8601 datetime string")
            return ("static", "type", f"expected datetime string, got {got}")
        if spec == "uuid":
            if isinstance(dt, ST.StringType):
                return ("cond", "format", ~col.rlike(UUID_RE_JAVA), "expected UUID string")
            return ("static", "type", f"expected UUID string, got {got}")
        raise BindError(f"unknown primitive spec {spec!r}")
    tag = spec[0]
    if tag == "literal":
        expected = spec[1]
        exp_t = _type_violation(_literal_primitive(expected), col, dt)
        msg = f"expected literal {expected!r}"
        if exp_t is not None:
            return ("static", "literal_mismatch", msg + f", got {got} column")
        return ("cond", "literal_mismatch", ~col.eqNullSafe(F.lit(expected)), msg)
    if tag == "nullable":
        inner = _type_violation(spec[1], col, dt)
        if inner is None:
            return None
        if inner[0] == "static":
            # non-null values are all the wrong type
            return ("cond", inner[1], col.isNotNull(), inner[2])
        return inner  # cond already guarded by caller's isNotNull
    if tag == "union":
        # first-match-wins collapses to any-match for pure type checks
        # (types.ex:742-749): violation iff NO branch accepts the value
        conds = []
        for member in spec[1]:
            r = _type_violation(member, col, dt)
            if r is None:
                return None  # some branch statically accepts everything
            if r[0] == "cond":
                conds.append(~r[2])
        if not conds:
            return ("static", "type", "value does not match any type in union")
        viol = ~conds[0]
        for c in conds[1:]:
            viol = viol & ~c
        return ("cond", "type", viol, "value does not match any type in union")
    if tag == "array":
        if not isinstance(dt, ST.ArrayType):
            return ("static", "type", f"expected array, got {got}")
        return None  # element checks handled by _element_checks
    if tag == "map":
        if not isinstance(dt, ST.MapType):
            return ("static", "type", f"expected map, got {got}")
        return None
    if tag == "tuple":
        if not isinstance(dt, ST.StructType):
            return ("static", "type", f"expected tuple, got {got}")
        if len(dt.fields) != len(spec[1]):
            return ("static", "tuple_size", f"expected tuple of size {len(spec[1])}, got {len(dt.fields)}")
        return None
    if tag in ("object", "discriminated_union"):
        if not isinstance(dt, ST.StructType):
            return ("static", "type", f"expected object, got {got}")
        return None
    raise BindError(f"unsupported spec {spec!r}")


def _literal_primitive(v: Any) -> str:
    n = py_type_name(v)
    return n if n in ("string", "integer", "float", "boolean") else "string"


# ---------------------------------------------------------------------------
# constraints (§2.3) — vectorized Column predicates
# ---------------------------------------------------------------------------


def _constraint_checks(fd: FieldDef, value: Column, dt: ST.DataType, path: Sequence[str]) -> list[tuple[str, Column, str]]:
    """(code, violation-cond, message) per applicable constraint.
    Applicability by column type is static (validator.ex:429-512:
    incompatible pairs silently skipped)."""
    out: list[tuple[str, Column, str]] = []
    cons = fd.constraints
    is_str = isinstance(dt, ST.StringType)
    is_arr = isinstance(dt, ST.ArrayType)
    is_num = isinstance(dt, _INT_TYPES + _FLOAT_TYPES)
    # Spark length() counts codepoints — matches String.length
    # (validator.ex:681-682); size() counts array items
    ln = F.length(value) if is_str else (F.size(value) if is_arr else None)
    if "min_length" in cons and ln is not None:
        out.append(("min_length", ln < cons["min_length"], f"must be at least {cons['min_length']} characters/items long"))
    if "max_length" in cons and ln is not None:
        out.append(("max_length", ln > cons["max_length"], f"must be at most {cons['max_length']} characters/items long"))
    if "min_items" in cons and is_arr:
        out.append(("min_items", F.size(value) < cons["min_items"], f"must contain at least {cons['min_items']} items"))
    if "max_items" in cons and is_arr:
        out.append(("max_items", F.size(value) > cons["max_items"], f"must contain at most {cons['max_items']} items"))
    if is_num:
        for code, op, phrase in (
            ("gt", lambda c, t: ~(c > t), "must be greater than"),
            ("gteq", lambda c, t: ~(c >= t), "must be greater than or equal to"),
            ("lt", lambda c, t: ~(c < t), "must be less than"),
            ("lteq", lambda c, t: ~(c <= t), "must be less than or equal to"),
        ):
            if code in cons:
                t = cons[code]
                out.append((code, op(value, F.lit(t)), f"{phrase} {t}"))
    if "format" in cons and is_str:
        pattern = cons["format"].pattern
        out.append(("format", ~value.rlike(pattern), "does not match required format"))
    if "choices" in cons:
        allowed = list(cons["choices"])
        out.append(("choices", ~value.isin(allowed), f"must be one of: {allowed!r}"))
    # array min/max_items living on the type spec (schema.ex:665-686)
    t = fd.type
    if isinstance(t, tuple) and t[0] == "array" and len(t) == 3 and is_arr:
        ic = t[2]
        if "min_items" in ic:
            out.append(("min_items", F.size(value) < ic["min_items"], f"must contain at least {ic['min_items']} items"))
        if "max_items" in ic:
            out.append(("max_items", F.size(value) > ic["max_items"], f"must contain at most {ic['max_items']} items"))
    return out


def _null_element_error(spec: Any) -> tuple[str, str] | None:
    """(code, message) a NULL element must raise, or None if the spec
    accepts null. Delegates to the driver engine's verdict on ``None``
    so the two grains agree verbatim (types.ex rejects nil elements
    inside a present list: 'expected X, got nil')."""
    from .types import validate_value

    ok, _, errs = validate_value(spec, None)
    if ok or not errs:
        return None
    return errs[0].code, errs[0].message


def _empty_viols() -> Column:
    return F.array().cast(_EMPTY_ARR)


def _value_viols(spec: Any, x: Column, dt: ST.DataType, pcol: Column) -> Column | None:
    """array<vstruct> of TYPE-level violations for one VALUE at dynamic
    path ``pcol``, recursing into composite specs — the builder behind
    every per-element check, so nested composites (array-of-array,
    array-of-object, map-of-tuple, nullable wrappers at any depth) are
    actually validated instead of silently passing once the outer
    container's Spark type matches.

    Returns None when the spec is statically satisfied by ``dt``
    (no runtime work). Null handling: a null VALUE here is judged by
    the driver engine's verdict on ``None`` for the same spec
    (:func:`_null_element_error`) — composite-internal nulls violate
    unless the spec accepts null.

    Object specs validate required/missing fields, field types
    (recursively), and field constraints. Documented divergences from
    the driver grain for objects nested INSIDE composites: defaults,
    aliases, custom field validators, and strict-extras are not
    applied at this depth (top-level object fields get all of them via
    :func:`_bind_struct`)."""
    if isinstance(spec, str) or (isinstance(spec, tuple) and spec[0] in ("literal", "union")):
        r = _type_violation(spec, x, dt)
        if r is None:
            return None
        if r[0] == "static":
            return F.array(_vstruct(pcol, r[1], r[2]))
        return F.when(r[2], F.array(_vstruct(pcol, r[1], r[3]))).otherwise(_empty_viols())

    tag = spec[0]
    if tag == "nullable":
        inner = _value_viols(spec[1], x, dt, pcol)
        if inner is None:
            return None
        return F.when(x.isNull(), _empty_viols()).otherwise(inner)

    if tag == "array":
        if not isinstance(dt, ST.ArrayType):
            return F.array(_vstruct(pcol, "type", f"expected array, got {_dtype_name(dt)}"))
        edt = dt.elementType
        null_err = _null_element_error(spec[1])
        probe = _elem_probe(spec[1], edt)
        if probe is None and null_err is None:
            return None

        def emit(e: Column, i: Column) -> Column:
            p = F.concat(pcol, F.array(i.cast("string")))
            sub = _value_viols(spec[1], e, edt, p)
            nonnull = sub if sub is not None else _empty_viols()
            if null_err is None:
                return F.when(e.isNull(), _empty_viols()).otherwise(nonnull)
            return F.when(e.isNull(), F.array(_vstruct(p, *null_err))).otherwise(nonnull)

        arr = F.flatten(F.transform(x, emit))
        return F.when(x.isNull(), _empty_viols()).otherwise(arr)

    if tag == "map":
        if not isinstance(dt, ST.MapType):
            return F.array(_vstruct(pcol, "type", f"expected map, got {_dtype_name(dt)}"))
        kspec, vspec = spec[1], spec[2]
        parts = []
        def make_emit(sub_spec, sub_dt, getter, null_err):
            # a factory, not default-args: Spark's higher-order-function
            # wrapper inspects the lambda's arity
            def emit(e: Column) -> Column:
                t = getter(e)
                p = F.concat(pcol, F.array(e.getField("key").cast("string")))
                sub = _value_viols(sub_spec, t, sub_dt, p)
                nonnull = sub if sub is not None else _empty_viols()
                if null_err is None:
                    return F.when(t.isNull(), _empty_viols()).otherwise(nonnull)
                return F.when(t.isNull(), F.array(_vstruct(p, *null_err))).otherwise(nonnull)

            return emit

        for sub_spec, sub_dt, getter in (
            (kspec, dt.keyType, lambda e: e.getField("key")),
            (vspec, dt.valueType, lambda e: e.getField("value")),
        ):
            null_err = _null_element_error(sub_spec)
            probe = _elem_probe(sub_spec, sub_dt)
            if probe is None and null_err is None:
                continue
            parts.append(
                F.flatten(F.transform(F.map_entries(x), make_emit(sub_spec, sub_dt, getter, null_err)))
            )
        if not parts:
            return None
        arr = parts[0]
        for p_ in parts[1:]:
            arr = F.concat(arr, p_)
        return F.when(x.isNull(), _empty_viols()).otherwise(arr)

    if tag == "tuple":
        r = _type_violation(spec, x, dt)
        if r is not None:  # not-a-struct / wrong arity is static
            return F.array(_vstruct(pcol, r[1], r[2]))
        parts = []
        for i, (espec, f) in enumerate(zip(spec[1], dt.fields)):
            p = F.concat(pcol, F.array(F.lit(str(i))))
            ecol = x.getField(f.name)
            null_err = _null_element_error(espec)
            sub = _value_viols(espec, ecol, f.dataType, p)
            if sub is None and null_err is None:
                continue
            nonnull = sub if sub is not None else _empty_viols()
            if null_err is None:
                parts.append(F.when(ecol.isNull(), _empty_viols()).otherwise(nonnull))
            else:
                parts.append(
                    F.when(ecol.isNull(), F.array(_vstruct(p, *null_err))).otherwise(nonnull)
                )
        if not parts:
            return None
        arr = parts[0]
        for p_ in parts[1:]:
            arr = F.concat(arr, p_)
        return F.when(x.isNull(), _empty_viols()).otherwise(arr)

    if tag == "object":
        if not isinstance(dt, ST.StructType):
            return F.array(_vstruct(pcol, "type", f"expected object, got {_dtype_name(dt)}"))
        sub_fields = {f.name: f.dataType for f in dt.fields}
        parts = []
        for fd in spec[1].fields.values():
            p = F.concat(pcol, F.array(F.lit(fd.name)))
            if fd.name not in sub_fields:
                if fd.required and fd.default is None:
                    parts.append(F.array(_vstruct(p, "required", "field is required")))
                continue
            fcol, fdt = x.getField(fd.name), sub_fields[fd.name]
            field_parts = []
            if fd.required and fd.default is None:
                field_parts.append(
                    F.when(fcol.isNull(), F.array(_vstruct(p, "required", "field is required"))).otherwise(_empty_viols())
                )
            tsub = _value_viols(fd.type, fcol, fdt, p)
            if tsub is not None:
                field_parts.append(F.when(fcol.isNull(), _empty_viols()).otherwise(tsub))
            cons = [
                F.when(fcol.isNotNull() & cond, F.array(_vstruct(p, code, msg))).otherwise(_empty_viols())
                for code, cond, msg in _constraint_checks(fd, fcol, fdt, ())
            ]
            field_parts.extend(cons)
            parts.extend(field_parts)
        if not parts:
            return None
        arr = parts[0]
        for p_ in parts[1:]:
            arr = F.concat(arr, p_)
        return F.when(x.isNull(), _empty_viols()).otherwise(arr)

    # discriminated unions nested inside composites: vectorized variant
    # dispatch needs per-variant masks over the discriminator — emit the
    # discriminator presence checks only (variant-field validation at
    # this depth is a documented driver-grain-only feature)
    if tag == "discriminated_union":
        r = _type_violation(spec, x, dt)
        if r is not None:
            return F.array(_vstruct(pcol, r[1], r[2]))
        disc = spec[1]
        names = {f.name for f in dt.fields}
        if disc not in names:
            return F.array(_vstruct(pcol, "missing_discriminator", f"missing discriminator field '{disc}'"))
        dcol = x.getField(disc)
        keys = [str(k) for k in spec[2]]
        missing = F.when(
            dcol.isNull(),
            F.array(_vstruct(pcol, "missing_discriminator", f"missing discriminator field '{disc}'")),
        ).otherwise(_empty_viols())
        unknown = F.when(
            dcol.isNotNull() & ~dcol.cast("string").isin(keys),
            F.array(
                _vstruct(
                    pcol,
                    "unknown_discriminator",
                    F.concat(F.lit("unknown discriminator value '"), dcol.cast("string"), F.lit("'")),
                )
            ),
        ).otherwise(_empty_viols())
        return F.when(x.isNull(), _empty_viols()).otherwise(F.concat(missing, unknown))

    raise BindError(f"unsupported spec {spec!r}")


def _elem_probe(spec: Any, dt: ST.DataType):
    """Cheap static probe: None iff _value_viols(spec, …) would be None
    for this dtype (probed with a typed null literal)."""
    return _value_viols(spec, F.lit(None).cast(dt), dt, F.array().cast("array<string>"))


def _element_checks(spec: Any, value: Column, dt: ST.DataType, path: Sequence[str]) -> list[BoundCheck]:
    """Per-element runtime checks for array columns, emitting indexed
    violation paths (types.ex:194-238) without exploding the table:
    transform/flatten builds the violation structs in place, recursing
    into composite element specs via :func:`_value_viols`.

    NULL elements inside a present array are violations unless the
    element spec accepts null ((nullable,...)/any/null) — matching the
    driver grain; the null≡missing divergence (SURVEY §7.3) covers
    top-level columns only."""
    if not (isinstance(spec, tuple) and spec[0] == "array" and isinstance(dt, ST.ArrayType)):
        return []
    viols = _value_viols(spec, value, dt, _path_lit(path))
    if viols is None:
        return []
    return [BoundCheck(F.coalesce(viols, _empty_viols()), is_array=True)]


def _map_element_checks(spec: Any, value: Column, dt: ST.DataType, path: Sequence[str]) -> list[BoundCheck]:
    """Per-entry runtime checks for map columns: every key and value
    validated (recursively, via :func:`_value_viols`), violation paths
    carry the key (types.ex:274-308)."""
    if not (isinstance(spec, tuple) and spec[0] == "map" and isinstance(dt, ST.MapType)):
        return []
    viols = _value_viols(spec, value, dt, _path_lit(path))
    if viols is None:
        return []
    return [BoundCheck(F.coalesce(viols, _empty_viols()), is_array=True)]


def _tuple_element_checks(spec: Any, value: Column, dt: ST.DataType, path: tuple, guard: Column):
    """Per-position type checks for tuple struct columns with indexed
    violation paths (types.ex:319-332: element errors at path+[i]),
    recursing into nested tuples. Returns ``(BoundCheck, ok)`` pairs
    where ``ok`` is False (static mismatch) or a pass Column, feeding
    the with-chain short-circuit in :func:`_bind_field`."""
    if not (
        isinstance(spec, tuple)
        and spec[0] == "tuple"
        and isinstance(dt, ST.StructType)
        and len(dt.fields) == len(spec[1])
    ):
        return []
    out = []
    for i, (espec, f) in enumerate(zip(spec[1], dt.fields)):
        ecol, edt = value.getField(f.name), f.dataType
        epath = tuple(path) + (str(i),)
        eplit = _path_lit(epath)
        # null elements inside a present tuple violate unless the
        # element spec accepts null — same rule as arrays/maps
        ne = _null_element_error(espec)
        if ne is not None:
            cond = guard & ecol.isNull()
            out.append((BoundCheck(F.when(cond, _vstruct(eplit, *ne))), ~F.coalesce(cond, F.lit(False))))
        if isinstance(espec, tuple) and espec[0] == "tuple":
            r = _type_violation(espec, ecol, edt)
            if r is not None:  # static not-a-struct / wrong arity
                out.append((BoundCheck(F.when(guard, _vstruct(eplit, r[1], r[2]))), False))
            else:
                out.extend(_tuple_element_checks(espec, ecol, edt, epath, guard & ecol.isNotNull()))
            continue
        if isinstance(espec, tuple) and espec[0] in ("array", "map", "object", "discriminated_union"):
            # composite member: recursive interior validation
            sub = _value_viols(espec, ecol, edt, eplit)
            if sub is not None:
                arr = F.when(guard & ecol.isNotNull(), sub).otherwise(_empty_viols())
                out.append((BoundCheck(arr, is_array=True), F.size(arr) == 0))
            continue
        r = _type_violation(espec, ecol, edt)
        if r is None:
            continue
        if r[0] == "static":
            out.append((BoundCheck(F.when(guard, _vstruct(eplit, r[1], r[2]))), False))
        else:
            bad = ecol.isNotNull() & r[2]
            out.append(
                (
                    BoundCheck(F.when(guard & bad, _vstruct(eplit, r[1], r[3]))),
                    ~F.coalesce(bad, F.lit(False)),
                )
            )
    return out


# ---------------------------------------------------------------------------
# coercion (types.ex:417-581) — try_cast with whole-string strictness
# ---------------------------------------------------------------------------


_COERCE_RULES = {
    # inner primitive → (whole-string pass predicate, cast type, name)
    "integer": (lambda x: x.rlike(r"^[+-]?\d+$"), "long", ST.LongType()),
    "float": (lambda x: x.rlike(r"^[+-]?(\d+)(\.\d+)?([eE][+-]?\d+)?$"), "double", ST.DoubleType()),
    "boolean": (lambda x: x.isin("true", "false"), None, ST.BooleanType()),
}


def _coerce(spec: Any, col: Column, dt: ST.DataType, path: Sequence[str] = ()):
    """Returns (value, new_dtype, checks, array_checks) — checks carry
    :coercion violations; array_checks are per-element indexed-path
    violation arrays (types.ex:479-500 semantics). Only safe
    conversions; never raises (types.ex:417)."""
    checks: list[tuple[str, Column, Column]] = []
    if isinstance(spec, tuple) and spec[0] == "nullable":
        return _coerce(spec[1], col, dt, path)
    if (
        isinstance(spec, tuple)
        and spec[0] == "array"
        and isinstance(dt, ST.ArrayType)
        and isinstance(spec[1], str)
        and spec[1] in _COERCE_RULES
        and isinstance(dt.elementType, ST.StringType)
    ):
        # coerce array elements individually, indexed error paths
        ok_fn, cast_ddl, new_edt = _COERCE_RULES[spec[1]]
        target = spec[1]
        base = _path_lit(path)

        def cast_elem(x: Column) -> Column:
            if cast_ddl is None:
                return F.when(ok_fn(x), x == "true")
            return F.when(ok_fn(x), x.cast(cast_ddl))

        # a field whose coercion failed has NO validated value, and its
        # type/constraint checks never run (validator.ex:310-333 with-
        # chain short-circuit) — nulling the value lets the standard
        # isNotNull guard suppress them. NULL elements are coercion
        # failures too (reference coerce(:integer, nil) catch-all →
        # :coercion, types.ex:437-438), matching the driver grain.
        any_bad = F.exists(col, lambda x: x.isNull() | ~ok_fn(x))
        new_value = F.when(col.isNotNull() & ~any_bad, F.transform(col, cast_elem))
        arr = F.filter(
            F.transform(
                col,
                lambda x, i: F.when(
                    x.isNull() | ~ok_fn(x),
                    _vstruct(
                        F.concat(base, F.array(i.cast("string"))),
                        "coercion",
                        F.concat(
                            F.lit("cannot coerce '"),
                            F.coalesce(x, F.lit("nil")),
                            F.lit(f"' to {target}"),
                        ),
                    ),
                ),
            ),
            lambda s: s.isNotNull(),
        )
        arr = F.when(col.isNotNull(), arr).otherwise(F.array().cast(_EMPTY_ARR))
        return new_value, ST.ArrayType(new_edt), checks, [BoundCheck(arr, is_array=True)]
    if not isinstance(spec, str):
        return col, dt, checks, []
    if spec == "integer" and isinstance(dt, ST.StringType):
        ok = col.rlike(r"^[+-]?\d+$")  # whole-string parse (types.ex:428-433)
        msg = F.concat(F.lit("cannot coerce '"), col, F.lit("' to integer"))
        checks.append(("coercion", col.isNotNull() & ~ok, msg))
        return F.when(ok, col.cast("long")), ST.LongType(), checks, []
    if spec == "float":
        if isinstance(dt, ST.StringType):
            ok = col.rlike(r"^[+-]?(\d+)(\.\d+)?([eE][+-]?\d+)?$")
            msg = F.concat(F.lit("cannot coerce '"), col, F.lit("' to float"))
            checks.append(("coercion", col.isNotNull() & ~ok, msg))
            return F.when(ok, col.cast("double")), ST.DoubleType(), checks, []
        if isinstance(dt, _INT_TYPES):
            return col.cast("double"), ST.DoubleType(), checks, []  # int→float ok
    if spec == "boolean" and isinstance(dt, ST.StringType):
        ok = col.isin("true", "false")
        msg = F.concat(F.lit("cannot coerce '"), col, F.lit("' to boolean"))
        checks.append(("coercion", col.isNotNull() & ~ok, msg))
        return F.when(ok, col == "true"), ST.BooleanType(), checks, []
    if spec in ("string", "atom", "uuid", "date", "datetime") and not isinstance(dt, ST.StringType):
        if isinstance(dt, (ST.BooleanType,) + _INT_TYPES + _FLOAT_TYPES + (ST.DateType, ST.TimestampType)):
            return col.cast("string"), ST.StringType(), checks, []
    return col, dt, checks, []


# ---------------------------------------------------------------------------
# field binding
# ---------------------------------------------------------------------------


def _bind_field(
    fd: FieldDef,
    resolve: Callable[[str], tuple[Column, ST.DataType] | None],
    path: tuple[str, ...],
    coerce: bool,
) -> BoundField:
    # alias-aware fetch: alias wins when both present (validator.ex:245-263)
    canonical = resolve(fd.name)
    aliased = resolve(fd.alias) if fd.alias else None
    if aliased is not None and canonical is not None:
        if aliased[1].simpleString() != canonical[1].simpleString():
            # coalesce would widen to a common type and every static
            # type decision below (taken from the alias dtype alone)
            # would silently mis-describe canonical-sourced values
            raise BindError(
                f"field {fd.name!r}: alias column {fd.alias!r} is "
                f"{aliased[1].simpleString()} but canonical column is "
                f"{canonical[1].simpleString()} — align the column types or drop one"
            )
        value = F.coalesce(aliased[0], canonical[0])
        dt = aliased[1]
    elif aliased is not None:
        value, dt = aliased
    elif canonical is not None:
        value, dt = canonical
    else:
        # absent column ≡ all-null (absent≡null at table grain, SURVEY §7.3)
        if fd.required and fd.default is None:
            raise BindError(f"required column {fd.name!r} not found in DataFrame")
        value, dt = F.lit(None).cast("string"), ST.StringType()

    checks: list[BoundCheck] = []
    fpath = path + (fd.name,)
    plit = _path_lit(fpath)

    # required fires on null (missing ≡ null) — but defaults apply BEFORE
    # the required check (validator_test.exs:170-178), so a defaulted
    # field can never be required-violated
    if fd.required and fd.default is None:
        checks.append(BoundCheck(F.when(value.isNull(), _vstruct(plit, "required", "field is required"))))

    # coercion before type check (validator.ex:310-333)
    if coerce:
        value, dt, cchecks, achecks = _coerce(fd.type, value, dt, fpath)
        for code, cond, msg in cchecks:
            checks.append(BoundCheck(F.when(cond, _vstruct(plit, code, msg))))
        checks.extend(achecks)

    guard = value.isNotNull()

    # type check (dispatch per §1.2)
    # type_ok accumulates the reference's with-chain short-circuit
    # (validator.ex:310-333): constraints never run on a value whose
    # type check (incl. per-element checks) failed
    type_ok: Column | bool = True
    spec = fd.type
    # composite dispatch sees THROUGH a nullable wrapper: the type
    # check below keeps nullable semantics (null passes), but element/
    # subfield validation must still run on present values — otherwise
    # ('nullable', ('array'|'object'|…)) silently skips all inner checks
    dspec = spec
    if isinstance(spec, tuple) and spec[0] == "nullable" and isinstance(spec[1], tuple):
        dspec = spec[1]
    if isinstance(dspec, tuple) and dspec[0] in ("object", "discriminated_union"):
        tv = _type_violation(spec, value, dt)
        if tv is not None and tv[0] == "static":
            checks.append(BoundCheck(F.when(guard, _vstruct(plit, tv[1], tv[2]))))
            type_ok = False
        elif tv is not None:  # nullable wrap turned static into cond
            checks.append(BoundCheck(F.when(guard & tv[2], _vstruct(plit, tv[1], tv[3]))))
            type_ok = ~tv[2]
        else:
            checks.extend(_bind_struct(dspec, value, dt, fpath, coerce, guard))
    else:
        tv = _type_violation(spec, value, dt)
        if tv is not None:
            if tv[0] == "static":
                checks.append(BoundCheck(F.when(guard, _vstruct(plit, tv[1], tv[2]))))
                type_ok = False
            else:
                checks.append(BoundCheck(F.when(guard & tv[2], _vstruct(plit, tv[1], tv[3]))))
                type_ok = ~tv[2]
        for ec in _element_checks(dspec, value, dt, fpath) + _map_element_checks(dspec, value, dt, fpath):
            checks.append(ec)
            elem_ok = F.size(ec.column) == 0
            type_ok = elem_ok if type_ok is True else (type_ok & elem_ok if type_ok is not False else False)
        # tuple element types are positional struct facts; checks carry
        # indexed paths and feed the same short-circuit
        for bc, ok in _tuple_element_checks(dspec, value, dt, fpath, guard):
            checks.append(bc)
            if type_ok is False or ok is False:
                type_ok = False
            elif type_ok is True:
                type_ok = ok
            else:
                type_ok = type_ok & ok

    # constraints on (possibly coerced) value (validator_test.exs:450-464);
    # suppressed when the type stage failed (with-chain short-circuit)
    cons_ok: Column | bool = True
    if type_ok is not False:
        cguard = guard if type_ok is True else guard & type_ok
        for code, cond, msg in _constraint_checks(fd, value, dt, fpath):
            checks.append(BoundCheck(F.when(cguard & cond, _vstruct(plit, code, msg))))
            ok = ~cond
            cons_ok = ok if cons_ok is True else cons_ok & ok

    # custom field validators → Arrow-batched pandas UDF
    # (validator.ex:362-408); the with-chain runs them only after type
    # and constraint stages both passed
    if fd.validate and type_ok is not False:
        err = _custom_validator_udf(fd.validate)(value)
        cond = guard & err.isNotNull()
        if type_ok is not True:
            cond = cond & type_ok
        if cons_ok is not True:
            # null-safe: a null constraint cond (null value) never blocks
            cond = cond & F.coalesce(cons_ok, F.lit(True))
        is_raise = err.startswith("\x00")
        checks.append(
            BoundCheck(
                F.when(
                    cond,
                    F.when(
                        is_raise,
                        _vstruct(plit, "custom_validation_error", F.substring(err, 2, 1 << 20)),
                    ).otherwise(
                        _vstruct(plit, "custom_validation", err, F.create_map(F.lit("value"), value.cast("string"))),
                    ),
                )
            )
        )

    output = value if fd.default is None else F.coalesce(value, F.lit(fd.default))
    return BoundField(fd.name, value, output.alias(fd.name), checks)


def _bind_struct(spec: tuple, value: Column, dt: ST.StructType, path: tuple, coerce: bool, guard: Column) -> list[BoundCheck]:
    """Recursive binding over StructType columns: objects
    (validator.ex:298-308) and discriminated unions (types.ex:334-381,
    per-variant masks on the discriminator — the vectorized form of
    variant dispatch)."""
    checks: list[BoundCheck] = []
    sub_fields = {f.name: f.dataType for f in dt.fields}

    def resolver(name):
        if name is None or name not in sub_fields:
            return None
        return value.getField(name), sub_fields[name]

    if spec[0] == "object":
        sub = spec[1]
        for fd in sub.fields.values():
            bf = _bind_field(fd, resolver, path, coerce)
            for c in bf.checks:
                checks.append(_mask_check(c, guard))
        return checks

    # discriminated_union
    disc, variants = spec[1], spec[2]
    if disc not in sub_fields:
        checks.append(BoundCheck(F.when(guard, _vstruct(_path_lit(path), "missing_discriminator", f"missing discriminator field '{disc}'"))))
        return checks
    dcol = value.getField(disc)
    keys = [str(k) for k in variants]
    checks.append(
        BoundCheck(F.when(guard & dcol.isNull(), _vstruct(_path_lit(path), "missing_discriminator", f"missing discriminator field '{disc}'")))
    )
    checks.append(
        BoundCheck(
            F.when(
                guard & dcol.isNotNull() & ~dcol.cast("string").isin(keys),
                _vstruct(
                    _path_lit(path),
                    "unknown_discriminator",
                    F.concat(F.lit("unknown discriminator value '"), dcol.cast("string"), F.lit("'")),
                ),
            )
        )
    )
    for key, vschema in variants.items():
        mask = guard & dcol.cast("string").eqNullSafe(F.lit(str(key)))
        for fd in vschema.fields.values():
            bf = _bind_field(fd, resolver, path, coerce)
            for c in bf.checks:
                checks.append(_mask_check(c, mask))
    return checks


def _mask_check(c: BoundCheck, mask: Column) -> BoundCheck:
    if c.is_array:
        return BoundCheck(F.when(mask, c.column).otherwise(F.array().cast(_EMPTY_ARR)), is_array=True)
    return BoundCheck(F.when(mask, c.column))


def _custom_validator_udf(validators: list[Callable]):
    """Vectorized custom-validator chain mirroring the driver protocol
    (driver_validate.py:178-210): per element, None/True → pass,
    ('ok', v) → replace the value for LATER validators in the chain,
    ('error', msg) → custom_validation, any other return →
    custom_validation_error "invalid format" (the driver emits it too —
    a bare-string return must not silently pass at table grain).
    Vectorized fns (attr .vectorized) take a pandas Series → Series of
    message|None. Short-circuits at first error per value
    (validator.ex:368-373); raises are wrapped (\\x00 prefix →
    custom_validation_error, validator.ex:397-408).

    Documented divergence: an ('ok', v) TRANSFORMED value feeds later
    validators but does not replace the column value in the output
    projection (the table grain validates; it does not rewrite)."""
    fns = list(validators)

    @F.pandas_udf("string")
    @python_kernel
    def _run(s: pd.Series) -> pd.Series:
        msgs = pd.Series([None] * len(s), index=s.index, dtype=object)
        pending = s.notna()
        vals = s.copy()  # ('ok', v) replacements feed later validators
        for fn in fns:
            if not pending.any():
                break
            if getattr(fn, "vectorized", False):
                try:
                    res = fn(vals[pending])
                except Exception as e:  # noqa: BLE001
                    msgs[pending] = f"\x00field validator raised: {e}"
                    pending[:] = False
                    break
                hit = res.notna()
                msgs.loc[res.index[hit]] = res[hit]
                pending.loc[res.index[hit]] = False
            else:
                for idx in s.index[pending]:
                    try:
                        r = fn(vals[idx])
                    except Exception as e:  # noqa: BLE001
                        msgs[idx] = f"\x00field validator raised: {e}"
                        pending[idx] = False
                        continue
                    if r is None or r is True:
                        continue
                    if isinstance(r, tuple) and len(r) == 2 and r[0] == "ok":
                        vals[idx] = r[1]
                        continue
                    if isinstance(r, tuple) and len(r) == 2 and r[0] == "error":
                        msgs[idx] = str(r[1])
                        pending[idx] = False
                        continue
                    msgs[idx] = f"\x00field validator returned invalid format: {r!r}"
                    pending[idx] = False
        return msgs

    return _run


# ---------------------------------------------------------------------------
# table validation entry point
# ---------------------------------------------------------------------------


class TableValidationResult:
    """Lazy handles over one validation pass. ``flagged`` carries every
    source row plus its violation array; everything else derives from it
    without re-reading the source."""

    def __init__(self, flagged: DataFrame, out_cols: list[str], row_key: str):
        self.flagged = flagged
        self._out_cols = out_cols
        self._row_key = row_key

    @property
    def violations(self) -> DataFrame:
        # no size(__errs) > 0 pre-filter: explode already drops rows
        # with empty arrays, and the redundant filter was WORSE than
        # free — the optimizer pushes it below any exchange in the
        # plan, duplicating the whole violation expression on the
        # scan side (Catalyst does not CSE across exchanges), which
        # on a one-row-group input re-serializes the pass onto a
        # single core.
        f = self.flagged
        return (
            f.select(F.col("__row_key").cast("string").alias("row_key"), F.explode("__errs").alias("e"))
            .select("row_key", "e.path", "e.code", "e.message", "e.context")
        )

    @property
    def validated(self) -> DataFrame:
        return self.flagged.where(F.size("__errs") == 0).select(*self._out_cols)

    @property
    def verdicts(self) -> DataFrame:
        """Per-partition pass/fail + counts (map-side combined: one
        output row per input partition)."""
        f = self.flagged
        return (
            f.groupBy(F.spark_partition_id().cast("string").alias("part_id"))
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.size("__errs")).alias("violations"),
                F.sum((F.size("__errs") > 0).cast("long")).alias("bad_rows"),
            )
            .select(
                "part_id",
                (F.col("violations") == 0).alias("pass"),
                "rows",
                "violations",
                F.create_map(
                    F.lit("violation_rate"),
                    F.col("bad_rows").cast("double") / F.col("rows"),
                ).alias("stats"),
            )
        )

    def counts_by_code(self) -> DataFrame:
        return self.violations.groupBy("code").count().orderBy("code")

    def ok(self) -> bool:
        return self.flagged.where(F.size("__errs") > 0).limit(1).count() == 0

    def write_parquet(self, out_dir: str, *, include_validated: bool = False) -> dict:
        """One-call export (VERDICT_r04 #8): write ``violations/`` and
        ``verdicts/`` (and, opted in, ``validated/``) as parquet under
        ``out_dir`` plus a ``metrics.json`` summary, exactly like the
        CLI's ``validate`` job — library embedding gets the CLI's
        ergonomics. The flagged table is persisted for the duration so
        the source is read once across all sinks, then released.
        Returns the metrics dict."""
        import json
        import os

        metrics = self._write_sinks(out_dir, include_validated=include_validated)
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, "metrics.json"), "w") as f:
            json.dump(metrics, f, indent=2, default=str)
        return metrics

    def _write_sinks(self, out_dir: str, *, include_validated: bool = False) -> dict:
        """:meth:`write_parquet` without ``metrics.json``: for callers
        (the CLI's ``validate``) that write their own."""
        import os

        self.flagged.persist()
        try:
            self.violations.write.mode("overwrite").parquet(
                os.path.join(out_dir, "violations")
            )
            self.verdicts.write.mode("overwrite").parquet(
                os.path.join(out_dir, "verdicts")
            )
            if include_validated:
                self.validated.write.mode("overwrite").parquet(
                    os.path.join(out_dir, "validated")
                )
            agg = self.verdicts.groupBy().sum("rows", "violations").collect()[0]
            metrics = {
                "rows": agg["sum(rows)"] or 0,
                "violations": agg["sum(violations)"] or 0,
                "ok": (agg["sum(violations)"] or 0) == 0,
            }
        finally:
            self.flagged.unpersist()
        return metrics

    def to_arrow_batches(self):
        """The violation rows as an iterator of ``pyarrow.RecordBatch``
        (Arrow-native export for embedding into pandas/polars/duckdb
        pipelines without a parquet round-trip). Materializes on the
        driver — violations are the EXCEPTION mass, but for a run
        where they might not fit, use :meth:`write_parquet`."""
        return iter(self.violations.toArrow().to_batches())

    def raise_if_invalid(self, sample: int = 10) -> DataFrame:
        """validate!-style gate (error.ex:352-403 at table grain):
        returns the validated DataFrame, or raises ValidationError
        carrying a sample of the violation rows."""
        from .errors import Error, ValidationError

        rows = self.violations.limit(sample).collect()
        if rows:
            raise ValidationError(
                [Error.new(list(r["path"]), r["code"], r["message"]) for r in rows]
            )
        return self.validated


def bind(
    schema: Schema,
    df: DataFrame,
    *,
    row_key: str | Column | None = None,
    coerce: bool = False,
    strict: bool | None = None,
    pre_validate: Callable[[DataFrame], DataFrame] | None = None,
    post_validate: Any = None,
    keep_cols: Sequence[str] = (),
) -> TableValidationResult:
    """Bind a schema to a DataFrame and build the validation plan.

    One projection computes every per-row check; nothing is executed
    until an action on one of the result handles (compile-once /
    bind-many, the table analogue of ``validator_for``,
    sinter.ex:279-319).
    """
    # 1. pre_validate hook on the RAW table (validator.ex:614-637)
    pre = pre_validate or schema.config.pre_validate
    if pre is not None:
        df = pre(df)

    fields = {f.name: f.dataType for f in df.schema.fields}

    def resolver(name):
        if name is None or name not in fields:
            return None
        return F.col(name), fields[name]

    bound: list[BoundField] = [
        _bind_field(fd, resolver, (), coerce) for fd in schema.fields.values()
    ]

    checks: list[BoundCheck] = [c for bf in bound for c in bf.checks]

    # strict: extra columns beyond schema+aliases+row_key → per-row
    # strict violation (validator.ex:535-565; at table grain every row
    # has the same extras, but the row-level shape matches the reference)
    effective_strict = schema.config.strict if strict is None else strict
    if effective_strict:
        known = set(schema.fields) | {f.alias for f in schema.fields.values() if f.alias}
        if isinstance(row_key, str):
            known.add(row_key)
        extras = [c for c in df.columns if c not in known]
        if extras:
            checks.append(
                BoundCheck(_vstruct(_path_lit(()), "strict", f"unexpected fields: {extras!r}"))
            )

    # post_validate: cross-field Column hook (validator.ex:567-612).
    # Accepts fn(df)->Column[string message|null]  or  (ok Column, msg str)
    post = post_validate or schema.config.post_validate
    if post is not None and callable(post):
        res = post(df)
        if isinstance(res, tuple) and len(res) == 2:
            okc, msg = res
            checks.append(BoundCheck(F.when(~F.coalesce(okc, F.lit(False)), _vstruct(_path_lit(()), "post_validation", msg))))
        elif isinstance(res, Column):
            checks.append(BoundCheck(F.when(res.isNotNull(), _vstruct(_path_lit(()), "post_validation", res))))
        else:
            raise BindError("table post_validate must return a Column or (Column, message)")

    scalar = [c.column for c in checks if not c.is_array]
    arrays = [c.column for c in checks if c.is_array]
    if scalar:
        err_arr: Column = F.array_compact(F.array(*scalar))
    else:
        err_arr = F.array().cast(_EMPTY_ARR)
    for a in arrays:
        err_arr = F.concat(err_arr, a)

    if row_key is None:
        rk: Column = F.monotonically_increasing_id().cast("string")
    elif isinstance(row_key, str):
        rk = F.col(row_key)
    else:
        rk = row_key

    out_cols = [bf.output for bf in bound]
    extra = [F.col(c) for c in keep_cols if c not in {bf.name for bf in bound}]
    flagged = df.select(
        rk.alias("__row_key"),
        *out_cols,
        *extra,
        err_arr.alias("__errs"),
    )
    return TableValidationResult(flagged, [bf.name for bf in bound], "__row_key")


def validate_table(schema: Schema, df: DataFrame, **kwargs) -> TableValidationResult:
    """Alias of :func:`bind` — named for parity with validate_many
    (validator.ex:148-181)."""
    return bind(schema, df, **kwargs)
