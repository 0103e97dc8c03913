"""SQL-on-FHIR ViewDefinition compiler: declarative flat views over
encoded resources.

The reference's query surface is Pathling, whose modern face is the
public SQL-on-FHIR v2 spec: a ViewDefinition resource declares a flat,
SQL-ready view over a FHIR resource type (columns as FHIRPath
expressions, `forEach` unnesting, `where` filters), and an engine
compiles it. This module compiles a ViewDefinition dict straight to a
Spark DataFrame plan over the curated encode
(operators/bundles.encode_resources) — every path becomes a Catalyst
column expression, every forEach an `explode`, so the whole view stays
inside whole-stage codegen with zero Python in the row path, and
Catalyst prunes unread resource columns / pushes `where` filters into
the scan exactly as for a hand-written query.

Supported subset (compile-time errors otherwise, never silent):

- ``resource``, ``select[].column[{name, path, type, collection}]``
  (``collection: true`` lifts the singular-path rule for that column:
  member access over a collection maps element-wise and nested
  collections flatten — ``name.given`` is every given across every
  name — with the result always an array, singular values wrapped,
  empties as an empty array),
  ``select[].forEach`` / ``forEachOrNull`` (with nested ``select``,
  recursively), ``select[].unionAll`` (as the final select element),
  ``where[{path}]`` (entries AND together, per spec), and
  ``constant[{name, value[x]}]`` — ``%name`` references substitute
  their literal text into every path before compilation (string /
  number / boolean value keys; strings must be quote-free).
- Column-path FHIRPath subset: dotted member access, ``$this`` (the
  current forEach element — how the spec suite reads a primitive
  collection: ``forEach: name.given`` + column path ``$this``),
  ``[i]`` indexing,
  ``first()``, ``exists()`` (and ``exists(field='lit')``, the
  FHIRPath criteria sugar for ``where(field='lit').exists()``),
  ``empty()``, ``count()``, ``not()``
  (chainable after any boolean, e.g. ``deceasedBoolean.not()`` or
  ``address.exists().not()``),
  ``getResourceKey()``, ``getReferenceKey([Type])`` (the spec's join
  key extractor: bare local id from a verbatim Reference, optional
  target-type filter — urn:uuid refs carry no type and only pass a
  typed filter via an explicit ``Reference.type``), and FHIR choice
  elements via ``ofType()`` (``value.ofType(Quantity)`` resolves to
  the materialized ``valueQuantity`` variant column),
  ``where(field='lit')`` (collection filter that stays a collection —
  ``name.where(use='official').first().family``), ``join('sep')``
  over string collections, and ``extension('url')`` (the FHIRPath
  extension shorthand: filters the element's extension collection by
  url and stays a collection — chains like ``extension('<race-url>').
  first().extension('ombCategory').first().value.ofType(Coding).code``
  compile to nested codegen'd array filters; needs a frame encoded
  with ``include_extensions=True``). Path splitting is quote-aware,
  so string literals — urls especially — may contain dots.
  String functions over singular strings: ``lower()``, ``upper()``,
  ``trim()``, ``length()``, ``contains('s')``, ``startsWith('s')``,
  ``endsWith('s')``, ``matches('re')`` (case-sensitive, unanchored),
  ``indexOf('s')`` (0-based, -1 when absent), ``replace('a','b')``
  (non-empty pattern), ``substring(start[, len])`` (0-based;
  start past the end yields empty). Conversions: ``toInteger()``,
  ``toDecimal()``, ``toString()`` — FHIRPath semantics, so a
  non-convertible value yields empty (try_cast), never an error.
  Temporal/decimal boundaries: ``lowBoundary()`` / ``highBoundary()``
  — on a decimal, value -/+ half a unit of its stored scale (result
  scale+1); on a date/dateTime string, the unstated components fill
  with their least/greatest values (``'2019'.highBoundary()`` =
  ``'2019-12-31'``; time-bearing values gain millisecond precision
  and keep their timezone offset verbatim); on a DateType column the
  identity. All compile to codegen'd expressions — zero Python.
  Mid-path collection traversal is legal anywhere a terminal step
  collapses the collection to a singular value
  (``name.given.count()``, ``address.city.exists()``,
  ``name.given.join('-')``) or the enclosing construct accepts one
  (``collection: true`` columns, ``forEach`` over a nested path like
  ``item.adjudication``) — only a column that would MATERIALIZE a
  collection without declaring ``collection: true`` violates the
  singular-path rule. Paths must be SINGULAR: traversing an
  array mid-path without ``first()`` / ``[i]`` / an enclosing
  ``forEach`` raises (the spec's singular-path rule), so a view can't
  silently take Spark's struct-over-array broadcast semantics.
- ``where`` paths: ``<path> <op> <literal>`` with ``=``, ``!=``,
  ``>``, ``>=``, ``<``, ``<=`` (ordering ops reject booleans and
  complex elements; date/dateTime strings order lexicographically,
  which matches FHIR ordering at equal precision), a bare boolean
  path, ``<path>.exists()`` / ``.empty()`` / ``.not()`` chains, and
  ``<path>.memberOf('<url>')``. Where expressions combine with
  FHIRPath ``and`` / ``or`` (``and`` binds tighter) and
  parenthesized groups — quote- and paren-aware splitting, so
  literals may contain the words. ``memberOf()`` compiles to a join
  and must stay its own where entry (entries AND together).

Out of subset (raise): arithmetic, string concatenation inside
paths.

100 TB shape: a compiled view is a projection + optional generate
(explode) + filter — embarrassingly parallel, no shuffle, no Python.
``forEach`` multiplies rows by per-resource array length only.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fhir_to_lakehouse_spark.schemas import schema_for


class ViewCompileError(ValueError):
    """A ViewDefinition uses something outside the supported subset or
    inconsistent with the resource schema."""


# FHIR primitive -> Spark cast target (column-level `type` hints)
_TYPE_MAP = {
    "string": "string",
    "code": "string",
    "id": "string",
    "uri": "string",
    "url": "string",
    "canonical": "string",
    "markdown": "string",
    "base64Binary": "string",
    "boolean": "boolean",
    "integer": "int",
    "positiveInt": "int",
    "unsignedInt": "int",
    "decimal": "decimal(38,18)",
    "date": "date",
    "dateTime": "string",
    "instant": "string",
    "time": "string",
}

_SEG_RE = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*)(\[(\d+)\])?$")
_FUNC_RE = re.compile(r"^([A-Za-z]+)\(([A-Za-z]*)\)$")
# where(field='literal') — collection filter that stays a collection;
# join('sep') — string-collection concatenation; extension('url') —
# the FHIRPath extension shorthand (filter by url, stays a
# collection). Path splitting is quote-aware, so literals may contain
# dots (URLs always do).
_WHERE_SEG_RE = re.compile(r"^where\((\w+)\s*=\s*'([^']*)'\)$")
# exists(field='lit') — FHIRPath sugar for where(field='lit').exists()
_EXISTS_SEG_RE = re.compile(r"^exists\((\w+)\s*=\s*'([^']*)'\)$")
_JOIN_SEG_RE = re.compile(r"^join\('([^']*)'\)$")
_EXT_SEG_RE = re.compile(r"^extension\('([^']+)'\)$")
# FHIRPath string functions with one string-literal argument; a
# two-argument replace; and substring with integer position args
# (FHIRPath positions are 0-based, unlike Spark's 1-based substring)
_STRFN_SEG_RE = re.compile(
    r"^(contains|startsWith|endsWith|matches|indexOf)\('([^']*)'\)$"
)
_REPLACE_SEG_RE = re.compile(r"^replace\('([^']*)'\s*,\s*'([^']*)'\)$")
_SUBSTR_SEG_RE = re.compile(r"^substring\((\d+)(?:\s*,\s*(\d+))?\)$")
# timezone suffix of a FHIR dateTime/instant (boundaries preserve it)
_TZ_SUFFIX_RE = r"(Z|[+-]\d{2}:\d{2})$"


def _temporal_boundary(col: Column, lo: bool) -> Column:
    """lowBoundary()/highBoundary() over a FHIR date/dateTime STRING:
    fill the unstated components with their least (lo) or greatest
    (hi) value. Date-only values stay day-precision ("2019" ->
    "2019-01-01" / "2019-12-31"); time-bearing values (FHIR requires
    full hh:mm:ss when any time is present) gain millisecond
    precision, with their own timezone offset preserved verbatim.
    Strings that aren't a FHIR temporal shape yield empty (null) —
    FHIRPath's empty-propagation, not an error."""
    tz = F.regexp_extract(col, _TZ_SUFFIX_RE, 1)
    body = F.regexp_replace(col, _TZ_SUFFIX_RE, "")
    n = F.length(body)
    month_first = F.concat(body, F.lit("-01"))
    date_part = (
        F.when(n == 4, F.concat(body, F.lit("-01-01" if lo else "-12-31")))
        .when(
            n == 7,
            month_first
            if lo
            else F.date_format(
                F.last_day(F.try_to_date(month_first)), "yyyy-MM-dd"
            ),
        )
        .when(n >= 10, F.substring(body, 1, 10))
    )
    t = F.substring(body, 12, 12)
    t_filled = F.when(
        t.contains("."), F.rpad(t, 12, "0" if lo else "9")
    ).otherwise(F.concat(t, F.lit(".000" if lo else ".999")))
    out = F.when(
        n > 10, F.concat(date_part, F.lit("T"), t_filled, tz)
    ).otherwise(date_part)
    # only strings in a FHIR temporal shape get boundaries; anything
    # else is empty (null) — never a misparsed passthrough
    valid = body.rlike(
        r"^\d{4}(-\d{2}(-\d{2}(T\d{2}:\d{2}:\d{2}(\.\d+)?)?)?)?$"
    )
    return F.when(valid, out)


def _split_path(path: str) -> list[str]:
    # split on '.' OUTSIDE single quotes — extension('http://...')
    # and where(system='http://x.y') carry dots in their literals
    segs: list[str] = []
    buf: list[str] = []
    in_quote = False
    for ch in path.strip():
        if ch == "'":
            in_quote = not in_quote
            buf.append(ch)
        elif ch == "." and not in_quote:
            segs.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    segs.append("".join(buf).strip())
    if in_quote:
        raise ViewCompileError(f"unbalanced quote in path: {path!r}")
    if any(not s for s in segs):
        raise ViewCompileError(f"malformed path: {path!r}")
    # fold `field.ofType(Type)` (FHIR choice elements: value.ofType(
    # Quantity)) into the materialized JSON field name (valueQuantity)
    # BEFORE resolution — choice variants are separate typed columns in
    # the curated schemas, exactly like the FHIR JSON wire form
    merged: list[str] = []
    i = 0
    while i < len(segs):
        nxt = _FUNC_RE.match(segs[i + 1]) if i + 1 < len(segs) else None
        if nxt and nxt.group(1) == "ofType":
            t = nxt.group(2)
            base = _SEG_RE.match(segs[i])
            if not t or not base or base.group(2):
                raise ViewCompileError(
                    f"malformed ofType() use in {path!r}"
                )
            merged.append(base.group(1) + t[0].upper() + t[1:])
            i += 2
            continue
        merged.append(segs[i])
        i += 1
    return merged


def _resolve(
    ctx: Column | None,
    dtype: T.DataType,
    path: str,
    allow_collection: bool = False,
) -> tuple[Column, T.DataType]:
    """Compile a FHIRPath-subset path to (Column, result DataType)
    relative to ``ctx`` (None = the resource root: fields are
    DataFrame columns). Enforces the singular-path rule unless
    ``allow_collection`` (a ``collection: true`` column): then member
    access OVER a collection maps element-wise (codegen'd
    ``transform``), nested collections FLATTEN, and null elements
    drop — FHIRPath collection semantics, so ``name.given`` yields
    every given name across every name."""
    segs = _split_path(path)
    col = ctx
    for i, seg in enumerate(segs):
        if seg == "$this":
            # FHIRPath identity: the current element itself — the spec
            # suite uses it for forEach over PRIMITIVE collections
            # (forEach: name.given, column path $this). Only meaningful
            # with a ctx; at the resource root there is no singular
            # "this" value to materialize.
            if col is None:
                raise ViewCompileError(
                    f"path {path!r}: $this needs an enclosing forEach"
                )
            if i != 0:
                raise ViewCompileError(
                    f"path {path!r}: $this is only valid leading a path"
                )
            continue
        wm = _WHERE_SEG_RE.match(seg)
        if wm:
            if not isinstance(dtype, T.ArrayType) or not isinstance(
                dtype.elementType, T.StructType
            ):
                raise ViewCompileError(
                    f"where(...) in {path!r} needs a collection of "
                    "complex elements"
                )
            fname, lit = wm.groups()
            if all(f.name != fname for f in dtype.elementType.fields):
                raise ViewCompileError(
                    f"where({fname}=...) in {path!r}: no such field on "
                    "the element"
                )
            if col is None:
                raise ViewCompileError(f"where() needs a preceding path")
            # FHIRPath where(): filter the collection, stay a collection
            col = F.filter(
                col,
                lambda x: F.coalesce(
                    x[fname] == F.lit(lit), F.lit(False)
                ),
            )
            continue
        xm = _EXISTS_SEG_RE.match(seg)
        if xm:
            # FHIRPath exists(criteria): sugar for
            # where(criteria).exists() — any element matches
            if not isinstance(dtype, T.ArrayType) or not isinstance(
                dtype.elementType, T.StructType
            ):
                raise ViewCompileError(
                    f"exists(criteria) in {path!r} needs a collection "
                    "of complex elements"
                )
            fname, lit = xm.groups()
            if all(f.name != fname for f in dtype.elementType.fields):
                raise ViewCompileError(
                    f"exists({fname}=...) in {path!r}: no such field "
                    "on the element"
                )
            if col is None:
                raise ViewCompileError(
                    "exists(criteria) needs a preceding path"
                )
            col = F.exists(
                col,
                lambda x: F.coalesce(
                    x[fname] == F.lit(lit), F.lit(False)
                ),
            )
            # absent collection: FHIRPath exists() over empty is false
            col = F.coalesce(col, F.lit(False))
            dtype = T.BooleanType()
            continue
        jm = _JOIN_SEG_RE.match(seg)
        if jm:
            if not isinstance(dtype, T.ArrayType) or not isinstance(
                dtype.elementType, T.StringType
            ):
                raise ViewCompileError(
                    f"join(...) in {path!r} needs a collection of strings"
                )
            if col is None:
                raise ViewCompileError(f"join() needs a preceding path")
            col, dtype = F.array_join(col, jm.group(1)), T.StringType()
            continue
        em = _EXT_SEG_RE.match(seg)
        if em:
            # FHIRPath extension('url') shorthand: member access to
            # the element's `extension` collection filtered by url —
            # stays a collection (chain .first().value.ofType(...))
            if not isinstance(dtype, T.StructType):
                raise ViewCompileError(
                    f"extension(...) in {path!r} needs a complex "
                    "element"
                )
            field = next(
                (f for f in dtype.fields if f.name == "extension"), None
            )
            if field is None or not isinstance(field.dataType, T.ArrayType):
                raise ViewCompileError(
                    f"extension(...) in {path!r}: this element carries "
                    "no extension collection — encode with "
                    "include_extensions=True"
                )
            url = em.group(1)
            base = (
                F.col("extension")
                if col is None
                else col.getField("extension")
            )
            col = F.filter(
                base,
                lambda x: F.coalesce(
                    x["url"] == F.lit(url), F.lit(False)
                ),
            )
            dtype = field.dataType
            continue
        sm = _STRFN_SEG_RE.match(seg)
        if sm:
            fn, lit = sm.groups()
            if col is None or not isinstance(dtype, T.StringType):
                raise ViewCompileError(
                    f"{fn}() in {path!r} needs a preceding singular "
                    "string"
                )
            if fn == "contains":
                col, dtype = col.contains(F.lit(lit)), T.BooleanType()
            elif fn == "startsWith":
                col, dtype = col.startswith(lit), T.BooleanType()
            elif fn == "endsWith":
                col, dtype = col.endswith(lit), T.BooleanType()
            elif fn == "matches":
                # FHIRPath matches(): case-sensitive, single-line,
                # unanchored regex (anchor explicitly with ^...$)
                col, dtype = col.rlike(lit), T.BooleanType()
            else:  # indexOf — FHIRPath is 0-based; -1 when absent
                col = F.instr(col, lit) - F.lit(1)
                dtype = T.IntegerType()
            continue
        rm = _REPLACE_SEG_RE.match(seg)
        if rm:
            pat, sub = rm.groups()
            if col is None or not isinstance(dtype, T.StringType):
                raise ViewCompileError(
                    f"replace() in {path!r} needs a preceding singular "
                    "string"
                )
            if not pat:
                raise ViewCompileError(
                    f"replace() in {path!r}: FHIRPath's empty-pattern "
                    "semantics (surround every character) is out of "
                    "the supported subset"
                )
            col = F.replace(col, F.lit(pat), F.lit(sub))
            continue
        ssm = _SUBSTR_SEG_RE.match(seg)
        if ssm:
            if col is None or not isinstance(dtype, T.StringType):
                raise ViewCompileError(
                    f"substring() in {path!r} needs a preceding "
                    "singular string"
                )
            start = int(ssm.group(1))  # FHIRPath start is 0-based
            length = ssm.group(2)
            sliced = (
                F.substring(col, start + 1, int(length))
                if length is not None
                else F.substring(col, start + 1, 2_147_483_647)
            )
            # FHIRPath: a start at/past the end yields empty, not ""
            col = F.when(F.length(col) > start, sliced)
            continue
        fm = _FUNC_RE.match(seg)
        if fm:
            fn, arg = fm.groups()
            if arg and fn != "getReferenceKey":
                raise ViewCompileError(
                    f"{fn}() takes no argument in {path!r}"
                )
            if fn == "getReferenceKey":
                if col is None or not (
                    isinstance(dtype, T.StructType)
                    and any(f.name == "reference" for f in dtype.fields)
                ):
                    raise ViewCompileError(
                        f"getReferenceKey() in {path!r} must follow a "
                        "Reference element"
                    )
                from fhir_to_lakehouse_spark.schemas import (
                    _RELATIVE_REF_RE,
                    _URN_UUID_RE,
                )

                ref = col.getField("reference")
                bare = (
                    F.when(
                        ref.rlike(_URN_UUID_RE),
                        F.regexp_extract(ref, _URN_UUID_RE, 1),
                    )
                    .when(
                        ref.rlike(_RELATIVE_REF_RE),
                        F.regexp_extract(ref, _RELATIVE_REF_RE, 2),
                    )
                    # absolute URLs / conditional refs have no local key
                    .otherwise(F.lit(None).cast("string"))
                )
                if arg:
                    has_type = any(f.name == "type" for f in dtype.fields)
                    explicit = (
                        col.getField("type") if has_type else F.lit(None)
                    )
                    rtype = F.coalesce(
                        explicit,
                        F.when(
                            ref.rlike(_RELATIVE_REF_RE),
                            F.regexp_extract(ref, _RELATIVE_REF_RE, 1),
                        ),
                    )
                    # type filter: urn:uuid refs carry no type — they
                    # only pass when an explicit Reference.type says so
                    bare = F.when(rtype == F.lit(arg), bare)
                # keep resolving: the key is a singular string, so
                # chains like getReferenceKey(Patient).exists() work
                # (an early return here used to drop the suffix)
                col, dtype = bare, T.StringType()
                continue
            if fn == "getResourceKey":
                if i != 0 or ctx is not None:
                    raise ViewCompileError(
                        "getResourceKey() is only valid leading a "
                        "root-level path"
                    )
                col, dtype = F.col("id"), T.StringType()
                continue
            if col is None:
                raise ViewCompileError(f"{fn}() needs a preceding path")
            if fn == "first":
                if not isinstance(dtype, T.ArrayType):
                    raise ViewCompileError(
                        f"first() on non-collection in {path!r}"
                    )
                # FHIRPath collection semantics: first()/[i] on an empty or
                # short collection is EMPTY (null), never an error
                col, dtype = F.try_element_at(col, F.lit(1)), dtype.elementType
                continue
            if fn == "exists":
                if isinstance(dtype, T.ArrayType):
                    col = F.coalesce(F.size(col), F.lit(0)) > 0
                else:
                    col = col.isNotNull()
                dtype = T.BooleanType()
                continue
            if fn == "empty":
                if isinstance(dtype, T.ArrayType):
                    col = F.coalesce(F.size(col), F.lit(0)) == 0
                else:
                    col = col.isNull()
                dtype = T.BooleanType()
                continue
            if fn == "not":
                # FHIRPath not(): boolean negation; empty in -> empty
                # out (Spark three-valued NOT matches — NULL stays
                # NULL, and _predicate coalesces a final NULL to False)
                if not isinstance(dtype, T.BooleanType):
                    raise ViewCompileError(
                        f"not() in {path!r} needs a boolean "
                        f"(got {dtype.simpleString()})"
                    )
                col = ~col
                continue
            if fn == "count":
                if isinstance(dtype, T.ArrayType):
                    col = F.coalesce(F.size(col), F.lit(0))
                else:
                    col = F.when(col.isNotNull(), F.lit(1)).otherwise(
                        F.lit(0)
                    )
                dtype = T.IntegerType()
                continue
            if fn in ("lower", "upper", "trim"):
                if not isinstance(dtype, T.StringType):
                    raise ViewCompileError(
                        f"{fn}() in {path!r} needs a singular string"
                    )
                col = {"lower": F.lower, "upper": F.upper, "trim": F.trim}[
                    fn
                ](col)
                continue
            if fn == "length":
                if not isinstance(dtype, T.StringType):
                    raise ViewCompileError(
                        f"length() in {path!r} needs a singular string"
                    )
                col, dtype = F.length(col), T.IntegerType()
                continue
            if fn == "toInteger":
                # FHIRPath conversion: non-convertible -> empty, so
                # try_cast, never ANSI cast
                if isinstance(dtype, T.BooleanType):
                    col = col.cast("int")
                elif isinstance(
                    dtype, (T.StringType, T.IntegerType, T.LongType)
                ):
                    col = col.try_cast("int")
                else:
                    raise ViewCompileError(
                        f"toInteger() in {path!r}: unsupported input "
                        f"type {dtype.simpleString()}"
                    )
                dtype = T.IntegerType()
                continue
            if fn == "toDecimal":
                if not isinstance(
                    dtype,
                    (
                        T.StringType,
                        T.IntegerType,
                        T.LongType,
                        T.DecimalType,
                        T.DoubleType,
                        T.FloatType,
                    ),
                ):
                    raise ViewCompileError(
                        f"toDecimal() in {path!r}: unsupported input "
                        f"type {dtype.simpleString()}"
                    )
                col = col.try_cast("decimal(38,18)")
                dtype = T.DecimalType(38, 18)
                continue
            if fn == "toString":
                if isinstance(dtype, (T.StructType, T.ArrayType)):
                    raise ViewCompileError(
                        f"toString() in {path!r} needs a primitive"
                    )
                col, dtype = col.cast("string"), T.StringType()
                continue
            if fn in ("lowBoundary", "highBoundary"):
                lo = fn == "lowBoundary"
                if isinstance(dtype, T.DecimalType):
                    # boundary of a decimal at its STORED scale s:
                    # value -/+ 0.5 * 10^-s, result scale s+1 (the
                    # FHIRPath rule, applied to the scale the encoder
                    # preserved rather than a text-length re-derive)
                    import decimal as _dec

                    half = _dec.Decimal(5).scaleb(-(dtype.scale + 1))
                    s1 = min(dtype.scale + 1, 37)
                    # the addition must stay under DecimalType's
                    # 38-digit cap or Spark silently truncates the
                    # result scale back down, rounding the half-unit
                    # away — so the operand is capped at precision 37
                    # (integer part up to 10^(37-s1); try_cast yields
                    # empty beyond, FHIRPath's overflow-is-empty)
                    opnd = T.DecimalType(min(dtype.precision + 1, 37), s1)
                    tgt = T.DecimalType(min(dtype.precision + 2, 38), s1)
                    # half-unit literal via a string cast: F.lit on a
                    # python Decimal infers DecimalType(38,18), which
                    # would truncate any half-unit finer than 1e-18
                    half_col = F.lit(f"{-half if lo else half:f}").cast(
                        opnd
                    )
                    col = (col.try_cast(opnd) + half_col).cast(tgt)
                    dtype = tgt
                    continue
                if isinstance(dtype, T.DateType):
                    # already day-precision: boundary is the identity
                    continue
                if isinstance(dtype, T.StringType):
                    col = _temporal_boundary(col, lo)
                    continue
                raise ViewCompileError(
                    f"{fn}() in {path!r}: unsupported input type "
                    f"{dtype.simpleString()}"
                )
            raise ViewCompileError(f"unsupported function {fn}() in {path!r}")

        m = _SEG_RE.match(seg)
        if not m:
            raise ViewCompileError(f"malformed segment {seg!r} in {path!r}")
        name, _, idx = m.groups()

        if isinstance(dtype, T.ArrayType):
            if not allow_collection:
                raise ViewCompileError(
                    f"path {path!r} traverses a collection at {name!r} — "
                    "use first(), [i], an enclosing forEach, or declare "
                    "the column `collection: true` (singular-path rule)"
                )
            elem_t = dtype.elementType
            if not isinstance(elem_t, T.StructType):
                raise ViewCompileError(
                    f"path {path!r}: {name!r} accessed on a collection "
                    "of primitives"
                )
            field = next(
                (f for f in elem_t.fields if f.name == name), None
            )
            if field is None:
                raise ViewCompileError(
                    f"path {path!r}: no field {name!r} on this element "
                    f"(schema fields: {[f.name for f in elem_t.fields]})"
                )
            if idx is not None:
                raise ViewCompileError(
                    f"path {path!r}: [{idx}] inside a collection "
                    "traversal is not supported — index before or "
                    "after the flattening step"
                )
            mapped = F.transform(col, lambda x: x.getField(name))
            if isinstance(field.dataType, T.ArrayType):
                # nested collection: drop null inner arrays, flatten
                col = F.flatten(
                    F.filter(mapped, lambda a: a.isNotNull())
                )
                dtype = T.ArrayType(field.dataType.elementType)
            else:
                # scalar member: element-wise access, empties drop
                col = F.filter(mapped, lambda v: v.isNotNull())
                dtype = T.ArrayType(field.dataType)
            continue
        if not isinstance(dtype, T.StructType):
            raise ViewCompileError(
                f"path {path!r}: {name!r} accessed on a primitive"
            )
        field = next((f for f in dtype.fields if f.name == name), None)
        if field is None:
            raise ViewCompileError(
                f"path {path!r}: no field {name!r} on this element "
                f"(schema fields: {[f.name for f in dtype.fields]})"
            )
        col = F.col(name) if col is None else col.getField(name)
        dtype = field.dataType
        if idx is not None:
            if not isinstance(dtype, T.ArrayType):
                raise ViewCompileError(
                    f"path {path!r}: [{idx}] on non-collection {name!r}"
                )
            col, dtype = F.try_element_at(col, F.lit(int(idx) + 1)), dtype.elementType
    if col is None:
        raise ViewCompileError(f"empty path: {path!r}")
    return col, dtype


def _split_cmp(s: str) -> tuple[str, str, str] | None:
    """Split at the first TOP-LEVEL comparison operator — outside
    quotes and parentheses, so ``name.exists(use='official')`` is an
    atom while ``valueQuantity.value >= 50`` splits. (The old regex
    split inside function arguments: exists(use='official') broke at
    the inner ``=``.)"""
    depth = 0
    in_q = False
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if in_q:
            if ch == "'":
                in_q = False
        elif ch == "'":
            in_q = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and ch in "!<>=":
            for op in ("!=", ">=", "<=", "=", ">", "<"):
                if s.startswith(op, i):
                    left = s[:i].rstrip()
                    right = s[i + len(op):].lstrip()
                    if left and right:
                        return left, op, right
        i += 1
    return None

_CMP_OPS = {
    "=": lambda c, v: c == v,
    "!=": lambda c, v: c != v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
}


def _literal(text: str) -> Column:
    text = text.strip()
    if len(text) >= 2 and text[0] == "'" and text[-1] == "'":
        return F.lit(text[1:-1])
    if text in ("true", "false"):
        return F.lit(text == "true")
    try:
        return F.lit(int(text))
    except ValueError:
        pass
    try:
        return F.lit(float(text))
    except ValueError:
        raise ViewCompileError(f"unsupported literal {text!r}") from None


def _split_top(s: str, sep: str) -> list[str]:
    """Split ``s`` on ``sep`` at the top level only — outside single
    quotes and outside any parentheses (function calls, groups)."""
    parts: list[str] = []
    buf: list[str] = []
    depth = 0
    in_q = False
    i, n = 0, len(sep)
    while i < len(s):
        ch = s[i]
        if ch == "'":
            in_q = not in_q
        elif not in_q:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0 and s[i : i + n] == sep:
                parts.append("".join(buf))
                buf = []
                i += n
                continue
        buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return parts


def _wraps_whole(s: str) -> bool:
    """True when s is '( ... )' with the opening paren matching the
    final character — i.e. the parens group the entire expression."""
    if not (s.startswith("(") and s.endswith(")")):
        return False
    depth = 0
    in_q = False
    for i, ch in enumerate(s):
        if ch == "'":
            in_q = not in_q
        elif not in_q:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    return i == len(s) - 1
    return False


def _predicate(path: str, dtype: T.DataType) -> Column:
    """A where-clause expression: atoms (comparisons, boolean paths)
    combined with FHIRPath ``or`` / ``and`` (FHIRPath precedence:
    ``and`` binds tighter) and parenthesized groups. Atoms follow
    FHIRPath's empty-does-not-match rule individually, so the
    combined expression is never null."""
    s = path.strip()
    ors = _split_top(s, " or ")
    if len(ors) > 1:
        out = None
        for part in ors:
            c = _predicate(part, dtype)
            out = c if out is None else out | c
        return out
    ands = _split_top(s, " and ")
    if len(ands) > 1:
        out = None
        for part in ands:
            c = _predicate(part, dtype)
            out = c if out is None else out & c
        return out
    if _wraps_whole(s):
        return _predicate(s[1:-1], dtype)
    if _MEMBEROF_RE.match(s):
        raise ViewCompileError(
            f"where path {path!r}: memberOf() cannot appear inside "
            "and/or — it compiles to a join, so give it its own "
            "where entry (entries AND together)"
        )
    return _predicate_atom(s, dtype)


def _predicate_atom(path: str, dtype: T.DataType) -> Column:
    m = _split_cmp(path)
    if m:
        left, op, right = m
        col, cdt = _resolve(None, dtype, left, allow_collection=True)
        if isinstance(cdt, T.ArrayType):
            raise ViewCompileError(
                f"where path {path!r} compares a collection — "
                "reduce it (first(), count(), exists()) first"
            )
        if op in (">", ">=", "<", "<=") and isinstance(
            cdt, (T.StructType, T.ArrayType, T.BooleanType)
        ):
            raise ViewCompileError(
                f"where path {path!r}: ordering comparison on "
                f"{cdt.simpleString()}"
            )
        lit = _literal(right)
        return _CMP_OPS[op](col, lit)
    col, cdt = _resolve(None, dtype, path, allow_collection=True)
    if not isinstance(cdt, T.BooleanType):
        raise ViewCompileError(
            f"where path {path!r} is not boolean (got {cdt.simpleString()})"
        )
    # FHIRPath where-semantics: an empty (null) boolean does not match
    return F.coalesce(col, F.lit(False))


_MEMBEROF_RE = re.compile(r"^(.*)\.memberOf\('([^']+)'\)$")

# %name constant references inside paths (SQL-on-FHIR `constant`)
_CONST_REF_RE = re.compile(r"%([A-Za-z_]\w*)")
_CONST_STRING_KEYS = frozenset(
    {
        "valueString",
        "valueCode",
        "valueUri",
        "valueUrl",
        "valueCanonical",
        "valueId",
        "valueDate",
        "valueDateTime",
        "valueInstant",
        "valueTime",
    }
)
_CONST_NUMBER_KEYS = frozenset(
    {"valueInteger", "valuePositiveInt", "valueUnsignedInt", "valueDecimal"}
)


def _constant_literals(view: dict) -> dict[str, str]:
    """Map each declared ViewDefinition ``constant`` to the literal
    TEXT it substitutes for ``%name`` references — exactly the text
    form ``_literal`` / the segment regexes parse, so substitution is
    a pure preprocessing pass and the rest of the compiler never sees
    constants."""
    lits: dict[str, str] = {}
    for c in view.get("constant", []) or []:
        name = c.get("name")
        if not name or not re.fullmatch(r"[A-Za-z_]\w*", name):
            raise ViewCompileError(
                f"constant needs a simple name (got {name!r})"
            )
        keys = [k for k in c if k.startswith("value")]
        if len(keys) != 1:
            raise ViewCompileError(
                f"constant {name!r} needs exactly one value[x] "
                f"(got {sorted(keys)})"
            )
        key, v = keys[0], c[keys[0]]
        if key in _CONST_STRING_KEYS:
            if not isinstance(v, str) or "'" in v:
                raise ViewCompileError(
                    f"constant {name!r}: {key} must be a quote-free "
                    "string"
                )
            lits[name] = f"'{v}'"
        elif key in _CONST_NUMBER_KEYS:
            if isinstance(v, bool) or not isinstance(v, (int, float)):
                raise ViewCompileError(
                    f"constant {name!r}: {key} must be a number"
                )
            lits[name] = repr(v)
        elif key == "valueBoolean":
            if not isinstance(v, bool):
                raise ViewCompileError(
                    f"constant {name!r}: valueBoolean must be a bool"
                )
            lits[name] = "true" if v else "false"
        else:
            raise ViewCompileError(
                f"constant {name!r}: unsupported value key {key!r}"
            )
    return lits


def _substitute_constants(node, lits: dict[str, str]):
    """Deep-copy the view tree, replacing ``%name`` in every path
    string (``path``, ``forEach``, ``forEachOrNull``). Unknown
    references raise — never pass through silently."""

    def sub_text(text: str) -> str:
        def repl(m: re.Match) -> str:
            name = m.group(1)
            if name not in lits:
                raise ViewCompileError(
                    f"unknown constant %{name} in {text!r} "
                    f"(declared: {sorted(lits)})"
                )
            return lits[name]

        return _CONST_REF_RE.sub(repl, text)

    if isinstance(node, dict):
        return {
            k: (
                sub_text(v)
                if k in ("path", "forEach", "forEachOrNull")
                and isinstance(v, str)
                else _substitute_constants(v, lits)
            )
            for k, v in node.items()
        }
    if isinstance(node, list):
        return [_substitute_constants(x, lits) for x in node]
    return node


def _codings_array(col: Column, dtype: T.DataType, path: str) -> Column:
    """Normalize a memberOf() subject to array<struct> of Codings:
    CodeableConcept -> its coding array; Coding array -> itself;
    single Coding -> one-element array."""
    if isinstance(dtype, T.StructType):
        coding = next((f for f in dtype.fields if f.name == "coding"), None)
        if coding is not None and isinstance(coding.dataType, T.ArrayType):
            return col.getField("coding")
        names = {f.name for f in dtype.fields}
        if {"system", "code"} <= names:
            return F.array(col)
    if isinstance(dtype, T.ArrayType) and isinstance(
        dtype.elementType, T.StructType
    ):
        names = {f.name for f in dtype.elementType.fields}
        if {"system", "code"} <= names:
            return col
    raise ViewCompileError(
        f"memberOf() in {path!r} needs a CodeableConcept, Coding, or "
        f"Coding-array element"
    )


def _apply_member_of(
    df: DataFrame,
    sub_path: str,
    url: str,
    schema: T.StructType,
    valuesets: DataFrame,
    max_inline_codes: int,
) -> DataFrame:
    """FHIRPath memberOf(valueSetUrl) as a filter: keep resources where
    ANY coding of the subject element is in the value set expansion.

    Two physical strategies, picked by expansion size:
    - small (<= max_inline_codes): the expansion folds into a LITERAL
      array constant inside a codegen'd `exists(..., array_contains)`
      predicate — zero joins, zero shuffles, pushes like any filter;
    - large: per-row coding explode joined against the BROADCAST
      expansion, matching resource ids semi-joined back. One fact-side
      shuffle (the semi join on id); still no unbounded driver state —
      the inline probe reads at most max_inline_codes+1 rows.
    """
    col, dtype = _resolve(None, schema, sub_path)
    arr = _codings_array(col, dtype, sub_path)
    pairs = valuesets.filter(F.col("valueset_url") == url).select(
        "system", "code"
    )
    probe = pairs.limit(max_inline_codes + 1).collect()
    if len(probe) <= max_inline_codes:
        lit_arr = F.array(
            *[
                F.struct(
                    F.lit(r["system"]).alias("system"),
                    F.lit(r["code"]).alias("code"),
                )
                for r in probe
            ]
        )
        if not probe:
            return df.filter(F.lit(False))
        pred = F.exists(
            arr,
            lambda c: F.array_contains(
                lit_arr,
                F.struct(
                    c["system"].alias("system"), c["code"].alias("code")
                ),
            ),
        )
        return df.filter(F.coalesce(pred, F.lit(False)))
    matches = (
        df.select("id", F.explode(arr).alias("__c"))
        .join(
            F.broadcast(pairs),
            on=(
                (F.col("__c.system") == F.col("system"))
                & (F.col("__c.code") == F.col("code"))
            ),
            how="inner",
        )
        .select("id")
        .distinct()
    )
    return df.join(matches, "id", "left_semi")


def _parse_backed(df: DataFrame) -> bool:
    """True when the frame's columns are produced by an in-plan
    from_json/from_xml (the bundle decode chain) rather than read from
    storage or a materialized cache. Decides whether `where` filters
    need the parse pushdown barrier: pushing a predicate through a
    cheap column-ref projection (stored table) is pure win; pushing it
    through a wire-format parse duplicates the parse per row. Walks
    the ANALYZED plan via toJSON() — plan toString() truncates long
    expression trees, the JSON form does not."""
    try:
        plan_json = df._jdf.queryExecution().analyzed().toJSON()
        return (
            "JsonToStructs" in plan_json or "XmlToStructs" in plan_json
        )
    except Exception:
        # unknown plan shape: keep the single-parse guarantee (the
        # measured hazard); the cost is only a missed scan pushdown
        return True


def _where_input(df: DataFrame, wheres: list) -> DataFrame:
    """The frame that a view's or aggregate's `where` filters apply
    to: `df` itself, or `df` behind a parse pushdown barrier when it
    is parse-backed and there is a filter to push."""
    if not wheres or not _parse_backed(df):
        return df
    # Pushdown barrier (the optimizer-duplication trap, applied to
    # expressions): a `where` filter over a frame whose
    # columns come from an in-plan from_json/from_xml projection
    # otherwise gets pushed below that projection, re-substituting
    # the parse into the predicate — Catalyst then prunes that
    # copy's schema to the referenced field and every row pays a
    # SECOND full JSON lex just to evaluate the filter (measured:
    # viewdef_observation_components carried
    # `from_json(status).status = final` inside its Filter node,
    # plans/r12/viewdef_observation_components_before.txt node 5).
    # A one-element explode re-emits every row through a Generate;
    # predicates referencing generator output are not pushed below
    # it, so the parse stays single-evaluation. Row set unchanged:
    # explode of a 1-element array is exactly one row per row.
    # Applied ONLY to parse-backed frames: over a STORED table the
    # same barrier would BLOCK the pushdown we want — scalar
    # predicates into the parquet scan and column pruning out of
    # it (pinned by test_extension_frame_still_prunes_from_parquet).
    packed = df.select(
        F.explode(
            F.array(F.struct(*[F.col(c) for c in df.columns]))
        ).alias("__vd_row")
    )
    return packed.select(
        *[F.col("__vd_row")[c].alias(c) for c in df.columns]
    )


def compile_view(
    view: dict,
    encoded: DataFrame,
    valuesets: DataFrame | None = None,
    max_inline_codes: int = 4096,
) -> DataFrame:
    """Compile a ViewDefinition dict against an encoded resource frame
    (the output of ``encode_resources`` — or a stored table in that
    layout — for ``view['resource']``) into a flat DataFrame whose
    columns are exactly the view's declared columns, in declaration
    order.

    ``valuesets`` (an expansion frame from
    ``functions.terminology.expand_valueset``) enables
    ``memberOf('<url>')`` in where paths — the spec's terminology
    function, answered from encoded artifacts instead of a terminology
    server."""
    view = _substitute_constants(view, _constant_literals(view))
    rtype = view.get("resource")
    if not rtype:
        raise ViewCompileError("ViewDefinition needs a 'resource'")
    schema = schema_for(rtype)
    if len(schema.fields) <= 1:
        raise ViewCompileError(
            f"resource type {rtype!r} has no curated schema"
        )
    if "extension" in encoded.columns:
        # frame was encoded with include_extensions=True — resolve
        # extension('url') paths against the widened schema
        schema = schema_for(rtype, include_extensions=True)

    wheres = view.get("where", []) or []
    df = _where_input(encoded, wheres)
    for w in wheres:
        mo = _MEMBEROF_RE.match(w["path"].strip())
        if mo:
            if valuesets is None:
                raise ViewCompileError(
                    f"where path {w['path']!r} uses memberOf() — pass "
                    "the valuesets expansion frame to compile_view"
                )
            df = _apply_member_of(
                df, mo.group(1), mo.group(2), schema, valuesets,
                max_inline_codes,
            )
        else:
            df = df.filter(_predicate(w["path"], schema))

    out: list[tuple[str, str]] = []  # (view column name, temp column)
    n = [0]

    def fresh(prefix: str) -> str:
        n[0] += 1
        return f"__vd_{prefix}_{n[0]}"

    def apply_selects(
        df: DataFrame,
        selects: list[dict],
        ctx: Column | None,
        dtype: T.DataType,
    ) -> DataFrame:
        for pos, sel in enumerate(selects):
            fe = sel.get("forEach") or sel.get("forEachOrNull")
            if fe is not None and sel.get("unionAll"):
                raise ViewCompileError(
                    "forEach and unionAll on the same select node "
                    "is not supported — nest the unionAll in a child "
                    "select"
                )
            if fe is not None:
                # collection mode: a forEach over a nested collection
                # path (item.adjudication) flattens before exploding
                col, cdt = _resolve(ctx, dtype, fe, allow_collection=True)
                if not isinstance(cdt, T.ArrayType):
                    raise ViewCompileError(
                        f"forEach path {fe!r} is not a collection"
                    )
                tmp = fresh("ctx")
                gen = F.explode if "forEach" in sel else F.explode_outer
                df = df.withColumn(tmp, gen(col))
                df = emit_node(df, sel, F.col(tmp), cdt.elementType)
            else:
                df = emit_node(df, sel, ctx, dtype)
            if sel.get("unionAll"):
                if pos != len(selects) - 1:
                    raise ViewCompileError(
                        "unionAll is supported only as the final "
                        "select element"
                    )
                df = apply_union(df, sel["unionAll"], ctx, dtype)
        return df

    def emit_node(
        df: DataFrame, sel: dict, ctx: Column | None, dtype: T.DataType
    ) -> DataFrame:
        for c in sel.get("column", []) or []:
            coll = bool(c.get("collection"))
            # resolve in collection mode unconditionally: mid-path
            # collections are legal when a terminal step collapses
            # them (name.given.count(), name.family.exists()) — the
            # singular-path rule constrains the RESULT, checked next
            col, cdt = _resolve(ctx, dtype, c["path"], allow_collection=True)
            if not coll and isinstance(cdt, T.ArrayType):
                raise ViewCompileError(
                    f"column {c['name']!r}: path {c['path']!r} is "
                    "collection-valued — declare `collection: true`, "
                    "or use first()/[i]/an enclosing forEach "
                    "(singular-path rule)"
                )
            if coll and not isinstance(cdt, T.ArrayType):
                # spec: collection columns always materialize arrays —
                # a singular value becomes a 1-element array, empty
                # stays empty (FHIRPath), never [null]
                col = F.when(col.isNotNull(), F.array(col)).otherwise(
                    F.array().cast(T.ArrayType(cdt))
                )
                cdt = T.ArrayType(cdt)
            want = c.get("type")
            if want is not None:
                target = _TYPE_MAP.get(want)
                if target is None:
                    raise ViewCompileError(
                        f"column {c['name']!r}: unsupported type {want!r}"
                    )
                # FHIR decimal preserves the STORED precision/scale:
                # the encoder writes decimals as encoded and Pathling
                # never re-casts (reference bundle_processor.py:162-166
                # encodes verbatim). Widening an already-decimal column
                # to decimal(38,18) changes the representation (90.00
                # -> 90.000000000000000000), so only coerce when the
                # resolved column is NOT already a DecimalType.
                elem = (
                    cdt.elementType
                    if coll and isinstance(cdt, T.ArrayType)
                    else cdt
                )
                if not (want == "decimal" and isinstance(elem, T.DecimalType)):
                    col = col.cast(f"array<{target}>" if coll else target)
            tmp = fresh("col")
            df = df.withColumn(tmp, col)
            out.append((c["name"], tmp))
        if sel.get("select"):
            df = apply_selects(df, sel["select"], ctx, dtype)
        return df

    def apply_union(
        df: DataFrame, branches: list[dict], ctx: Column | None, dtype: T.DataType
    ) -> DataFrame:
        """Each branch contributes the SAME new column names; rows
        union. Compiled per-branch from the pre-union frame, then
        reduced to (prior outs + branch outs) and unionByName'd —
        which is why unionAll must close its select list."""
        prior = list(out)
        frames = []
        branch_names: list[list[str]] = []
        for b in branches:
            del out[len(prior):]
            bdf = apply_selects(df, [b], ctx, dtype)
            names = [name for name, _ in out[len(prior):]]
            branch_names.append(names)
            proj = [F.col(tmp).alias(f"__u_{name}") for name, tmp in out]
            frames.append(bdf.select(*proj))
        if any(set(bn) != set(branch_names[0]) for bn in branch_names):
            raise ViewCompileError(
                f"unionAll branches declare different columns: {branch_names}"
            )
        del out[len(prior):]
        u = frames[0]
        for fdf in frames[1:]:
            u = u.unionByName(fdf)
        # every surviving column now lives under its __u_ alias
        out[:] = [(name, f"__u_{name}") for name, _ in prior] + [
            (name, f"__u_{name}") for name in branch_names[0]
        ]
        return u

    df = apply_selects(df, view.get("select", []) or [], None, schema)
    if not out:
        raise ViewCompileError("ViewDefinition declares no columns")
    names = [name for name, _ in out]
    if len(set(names)) != len(names):
        raise ViewCompileError(f"duplicate view column names: {names}")
    return df.select(*[F.col(tmp).alias(name) for name, tmp in out])


# --- aggregate API (Pathling $aggregate analog) --------------------------

_AGG_FNS = {
    "count": lambda c: F.count(F.lit(1)),
    "countDistinct": F.countDistinct,
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
}


def compile_aggregate(spec: dict, encoded: DataFrame) -> DataFrame:
    """Grouped aggregation over encoded resources — the $aggregate
    operation of the reference's Pathling query layer, as one Spark
    grouped aggregate:

    ``{"resource": "Observation",
       "where":       [{"path": "status = 'final'"}],
       "grouping":    [{"name": "g", "path": "code.text"}],
       "aggregation": [{"name": "n", "function": "count"},
                       {"name": "mean_value",
                        "function": "avg",
                        "path": "valueQuantity.value"}]}``

    Paths use the same FHIRPath subset (and singular-path rule) as
    ViewDefinition columns. ``count`` needs no path (row count);
    every other function aggregates its path's column. One
    ``groupBy().agg()`` — map-side combinable, single shuffle on the
    grouping key, no Python anywhere. Output columns: groupings then
    aggregations, in declaration order."""
    spec = _substitute_constants(spec, _constant_literals(spec))
    rtype = spec.get("resource")
    if not rtype:
        raise ViewCompileError("aggregate spec needs a 'resource'")
    schema = schema_for(rtype)
    if len(schema.fields) <= 1:
        raise ViewCompileError(f"resource type {rtype!r} has no curated schema")
    if "extension" in encoded.columns:
        schema = schema_for(rtype, include_extensions=True)

    wheres = spec.get("where", []) or []
    df = _where_input(encoded, wheres)
    for w in wheres:
        df = df.filter(_predicate(w["path"], schema))

    groupings = spec.get("grouping", []) or []
    gcols = []
    for g in groupings:
        col, _ = _resolve(None, schema, g["path"])
        gcols.append(col.alias(g["name"]))

    aggs = []
    for a in spec.get("aggregation", []) or []:
        fn = _AGG_FNS.get(a.get("function"))
        if fn is None:
            raise ViewCompileError(
                f"aggregation {a.get('name')!r}: unsupported function "
                f"{a.get('function')!r} (have: {sorted(_AGG_FNS)})"
            )
        if a.get("function") == "count":
            aggs.append(_AGG_FNS["count"](None).alias(a["name"]))
        else:
            if "path" not in a:
                raise ViewCompileError(
                    f"aggregation {a['name']!r}: {a['function']} needs a path"
                )
            col, _ = _resolve(None, schema, a["path"])
            aggs.append(fn(col).alias(a["name"]))
    if not aggs:
        raise ViewCompileError("aggregate spec declares no aggregations")
    if gcols:
        return df.groupBy(*gcols).agg(*aggs)
    return df.agg(*aggs)
