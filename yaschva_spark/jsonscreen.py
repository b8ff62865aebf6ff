"""JVM-side "provably passes" screen for the dynamic JSON path.

The dynamic path's exactness requirements (undefined vs null, unions,
closed-world objects) force interpreter evaluation — but not for every
ROW. This module compiles a yaschva schema fragment into ONE Catalyst
boolean over Spark's VARIANT type that is true only when the interpreter
would return ``pass``, plus the matching ``yv_output`` text expression so
proven rows never cross the Arrow boundary at all
(engine.validate_json_table splits the plan on the screen).

Why VARIANT: ``try_parse_json`` + ``try_variant_get``/``is_variant_null``
distinguish a *missing* key (SQL NULL variant) from a JSON ``null`` (a
present variant with ``is_variant_null`` true) — precisely the
undefined/null split that `from_json` erases and that forced the
interpreter in round 1. ``schema_of_variant`` gives the JSON type tag
(BIGINT/DOUBLE/DECIMAL/STRING/BOOLEAN/VOID/OBJECT<...>/ARRAY<...>).

Soundness contract: the screen may return false for a passing row (that
row just pays the interpreter), but must NEVER return true for a failing
one — and when it returns true, the emitted output text must equal the
interpreter's byte for byte. Consequences baked in:

* numeric bound checks add a representability guard — a BIGINT/DECIMAL
  beyond 2^53 rounds when cast to double, and the interpreter compares
  exact Python ints, so such rows are never screened;
* regex checks screen only dialect-safe patterns (regexdialect),
  translated to Java semantics (to_java_pattern);
* object/map screens require a true JSON OBJECT — the reference also
  accepts JS *arrays* against object schemas (indices become keys,
  validate.ts:128-193); such rows screen false and run interpreted;
* object keys outside a conservative ``[A-Za-z0-9_-]+`` allowlist make
  the schema unscreenable: anything wilder risks JSONPath
  metacharacters (``$ . [ ] * ?``) resolving differently between
  ``try_variant_get`` and the interpreter's plain dict lookup, and
  non-ASCII keys would diverge from the interpreter's
  ``json.dumps(ensure_ascii=True)`` output escaping;
* map keys are dynamic, so the same safety is enforced per ROW: a key
  regex in the screen condition rejects rows whose keys need JSON
  escaping (those rows run interpreted);
* union branches are screened as an ordered prefix: the reference takes
  the FIRST passing branch's output (validate.ts:91-104), so a branch
  may join the prefix only while every earlier branch's screen is
  *exact* (screen true ⇔ interpreter pass) — otherwise an earlier
  branch could pass in the interpreter while its screen said false, and
  the when-chain would emit the wrong branch's output. Branches after
  the first non-exact or unscreenable one contribute ``false`` (rows
  passing only via them go to the interpreter);
* array elements and map values must have literally-``null`` pass
  output (leaves or unions of leaves): composite outputs need the
  original JSON *text* for data-order keys (VARIANT sorts object keys)
  and only literal paths can address text — nested objects get it via
  ``get_json_object`` at compile-time paths, dynamic positions can't;
* recursive ``$types`` raise :class:`ScreenNotApplicable` (depth guard);
* a schema shape outside all of the above raises
  :class:`ScreenNotApplicable` — the caller falls back to full
  interpretation, never to wrong answers.

Supported fragment: simple types, ``?``, ``null``, ``any``, ``$enum``,
``$string`` (UTF-16 length + dialect-safe regex), ``$number`` (min/max),
``$type`` meta-unwrap, inlined ``$types`` custom types (non-recursive),
``$and`` merges, nested objects at literal paths, ``$array`` /``$map``
with leaf-output element/value schemas, and ordered union prefixes
thereof. Reference semantics: validate.ts:50-205 (leaves),
validate.ts:106-193 (arrays/maps/objects), validate.ts:91-104 (unions).

**Fail screen (r5).** The r4 measurement showed the pass screen proving
100% of the VALID rows on the nested bench corpus — the remaining ~49%
crossing Arrow were all genuinely-violating rows, which the interpreter
evaluated only to produce error strings the schema already determines.
``compile_screens`` therefore also compiles the FAIL side: leaves carry
the interpreter's first-error dispatch as a when-chain of compile-time
constants (error string + rule id), the offending value renders JVM-side
when its ``json.dumps`` text is exactly reconstructible (missing →
``"__undefined__"``, null, booleans, i64 integers, printable-ASCII
strings without ``"``/``\\``); objects concatenate field violations in
the interpreter's output order; UNIONS of fully-covered exact leaves emit
UNION_MISMATCH plus every branch's error at the same path; ARRAYS emit
length failures (offending value = element count) and per-element leaf
failures with ``[i]`` paths; $MAPS emit per-key value failures at
``$.path.<key>`` in data-key order. Rows the fail side cannot decide or
render exactly — object/map structural failures (non-object value, extra
key, size bounds, key regex — the offending value is the whole
composite), NOT_ARRAY, DOUBLE/DECIMAL or escape-needing offending
values, nested-array elements (flat() splicing), bound comparisons
outside the 2^53 window — keep falling to the interpreter, per row.
Soundness contract extends symmetrically: an emitted FAIL row's
violations and output must equal the interpreter's byte for byte
(differential + emission-boundary tests in tests/test_jsonscreen.py).
"""

from __future__ import annotations

import re as _re
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from yaschva_spark.regexdialect import to_java_pattern, typed_unsafe
from yaschva_spark.schema import (
    SIMPLE_TYPES,
    SchemaError,
    combine_and,
    extract_types,
    js_falsy,
    unescape_key,
)

MAX_SAFE = 2**53 - 1

#: Keys the screen will address via JSONPath and emit into output text
#: verbatim. Conservative on purpose (see module docstring).
_SAFE_KEY = _re.compile(r"\A[A-Za-z0-9_-]+\Z")

#: Per-row guard for dynamic ($map) keys: printable ASCII without the two
#: JSON-escape-relevant characters (``"`` and ``\``) — exactly the keys
#: whose ``json.dumps(ensure_ascii=True)`` rendering is the key itself.
#: Anchored with \A/\z, never ^/$: Java regex '$' also matches before a
#: trailing line terminator (\n, \r, U+0085, U+2028, U+2029), so a '$'-anchored
#: pattern would let a key like "a\n" through and break the screen's
#: byte-exact soundness contract (the interpreter emits "a\\n").
_MAP_KEY_SAFE_RLIKE = "\\A[ !#-\\[\\]-~]*\\z"

_MAX_DEPTH = 64


class ScreenNotApplicable(Exception):
    """Schema shape outside the screenable fragment."""


@dataclass
class _Screen:
    #: sound provable-pass condition (NULL counts as false downstream)
    cond: Column
    #: the interpreter's ``yv_output`` JSON text — valid only when ``cond``
    out: Column
    #: cond ⇔ interpreter-pass over the parseable-JSON domain (not merely ⇒)
    exact: bool
    #: ``out`` is the literal text ``null`` for every passing value
    null_out: bool
    #: FAIL-SCREEN (r5): row-level "this node's outcome — pass OR fail — is
    #: exactly JVM-representable". On femit rows ``viols`` equals the
    #: interpreter's violation rows byte for byte and ``fout`` equals its
    #: ``yv_output`` byte for byte, so provably-FAILING rows skip Arrow
    #: too. None = not fail-compiled (normalized to femit=cond,
    #: viols=empty, fout=out: only the pass outcome is representable).
    femit: Column | None = None
    #: ``yv_output`` text valid whenever ``femit`` (== ``out`` when cond)
    fout: Column | None = None
    #: violation rows, empty when cond; valid whenever ``femit``
    viols: Column | None = None
    #: staged compilation only: the highest _Stager level any of this
    #: node's columns references (a parent staging its assembly must go
    #: one above)
    lvl: int = 0
    #: leaf fail parts ``(err, rule, val_txt, bad)`` — set only by
    #: fail-compiled leaves so a UNION can compose its total-failure
    #: output (every branch's error at the same path) from them
    leaf_fail: tuple | None = None


#: violation rows schema (matches typed.VIOLATION_DDL)
_VIOL_DDL = "array<struct<path:string,rule:string,error:string,value:string>>"

#: error strings that may be concat-spliced into JSON output text verbatim:
#: printable ASCII without `"` or `\` — exactly the strings whose
#: json.dumps rendering (either ensure_ascii mode) is the string itself
_ERR_SAFE = _re.compile(r"\A[ !#-\[\]-~]+\Z")


def _empty_viols() -> Column:
    return F.array().cast(_VIOL_DDL)


class _Stager:
    """Staged compilation (r5 perf): registers shared subexpressions —
    the parsed root variant, per-field sub-variants/texts, and each leaf's
    cond/err/rule/value columns — as ALIASED COLUMNS at depth-indexed
    levels, so the engine can evaluate them ONCE per row in a chain of
    projections instead of re-evaluating them inside every consumer.

    Why it matters: a leaf's error chain, rule chain, value renderer,
    femit, viols and fout all reference the same ``try_variant_get`` /
    ``schema_of_variant`` subtrees, and every reference re-walks (and for
    the root, re-PARSES) the variant. Measured at sf0.1 on the nested
    corpus, the un-staged fail side cost ~56 us/row for the viols
    expression alone vs ~2 us per variant op — the whole validate step ran
    2.2 s vs 0.5 s. Catalyst's CollapseProject keeps the stage boundaries
    because the staged aliases are non-cheap and multiply referenced
    (SPARK-36718); the engine's persist materializes the final projection,
    paying each staged expression once.

    Levels are ordered: a column at level i may reference only columns at
    levels < i. Lambda-scoped subtrees (array/map element screens) must
    NOT be staged — they reference the lambda variable."""

    def __init__(self) -> None:
        self.levels: list[dict[str, Column]] = []
        self._n = 0

    def add(self, level: int, col: Column) -> Column:
        while len(self.levels) <= level:
            self.levels.append({})
        name = f"__yv_s{level}_{self._n}"
        self._n += 1
        self.levels[level][name] = col
        return F.col(name)


def _vtype(tv: Column) -> Column:
    return F.schema_of_variant(tv)


def _present(tv: Column) -> Column:
    return tv.isNotNull() & ~F.is_variant_null(tv)


def _dval(tv: Column) -> Column:
    return F.try_variant_get(tv, "$", "double")


def _is_number_type(tv: Column) -> Column:
    t = _vtype(tv)
    return (t == "BIGINT") | (t == "DOUBLE") | t.startswith("DECIMAL")


def _finite(v: Column) -> Column:
    inf = F.lit(float("inf"))
    return v.isNotNull() & ~F.isnan(v) & (v != inf) & (v != -inf)


def _exact_as_double(tv: Column, v: Column) -> Column:
    """True when double(v) compares identically to the interpreter's exact
    value: always for DOUBLE (both sides are the same double), else only
    within the 2^53 integer-exact window."""
    return (_vtype(tv) == "DOUBLE") | (F.abs(v) <= F.lit(float(MAX_SAFE)))


def _render_value(tv: Column) -> tuple[Column, Column]:
    """(txt, unrenderable): JSON text of the variant value rendered EXACTLY
    as the interpreter's ``json.dumps(value)`` — in BOTH ensure_ascii modes
    (violation rows use False, yv_output uses True), which is why strings
    are gated to printable ASCII without ``"``/``\\`` (their dumps rendering
    is identical in both modes and equals ``"<s>"`` verbatim). Exactly
    renderable: missing (the ``"__undefined__"`` token), JSON null,
    safe-ASCII strings, booleans, and BIGINT integers (i64-exact, and
    json.loads of an integer literal yields a Python int whose dumps is the
    same decimal text). DOUBLE/DECIMAL numbers (Python repr rendering),
    wilder strings, and composite values fall to the interpreter."""
    t = _vtype(tv)
    s = F.try_variant_get(tv, "$", "string")
    missing = tv.isNull()
    isnull = tv.isNotNull() & F.is_variant_null(tv)
    txt = (
        F.when(missing, F.lit('"__undefined__"'))
        .when(isnull, F.lit("null"))
        .when(t == "STRING", F.concat(F.lit('"'), s, F.lit('"')))
        .when(t == "BOOLEAN", F.when(F.try_variant_get(tv, "$", "boolean"), "true").otherwise("false"))
        .when(t == "BIGINT", F.try_variant_get(tv, "$", "long").cast("string"))
    )
    renderable = (
        missing
        | isnull
        | ((t == "STRING") & s.rlike(_MAP_KEY_SAFE_RLIKE))
        | (t == "BOOLEAN")
        | (t == "BIGINT")
    )
    return txt, ~F.coalesce(renderable, F.lit(False))


def _leaf(
    cond: Column,
    *,
    exact: bool,
    fail_chain: list[tuple[Column, str]] | None = None,
    und: Column | None = None,
    tv: Column | None = None,
    path: str | None = None,
    stage: "_Stager | None" = None,
    level: int = 0,
) -> _Screen:
    """Leaf screen. When the caller supplies the fail side — ``fail_chain``,
    the interpreter's first-error dispatch as ordered (condition, error
    string) pairs (no condition true ⇔ pass), plus an optional ``und``
    (rows where the pass/fail decision or error choice is not exactly
    computable JVM-side) — and the leaf sits at a literal ``path``, compile
    femit/viols/fout so provably-FAILING rows skip the interpreter too.
    Soundness: a femit row whose chain fires is emitted as FAIL with
    exactly the interpreter's (path, rule, error, value); the engine routes
    cond rows to the pass branch first, so the two never both claim a row.
    Error strings outside the concat-safe alphabet (e.g. an $enum whose
    values need JSON escaping) disable the fail side, never corrupt it.

    With ``stage``, cond/err/rule/value/bad register as level+1 columns —
    every downstream consumer (femit, viols, fout, the parent's dispatch
    maps) then reads materialized columns instead of re-walking the
    variant (see :class:`_Stager`)."""
    fail_ok = bool(fail_chain) and tv is not None and all(
        _ERR_SAFE.match(e) for _, e in (fail_chain or [])
    )
    if stage is not None:
        cond = stage.add(level + 1, F.coalesce(cond, F.lit(False)))
    s = _Screen(cond, F.lit("null"), exact, True, lvl=level + 1)
    if not fail_ok:
        return s
    from yaschva_spark.errors import rule_id_for

    err = rule = None
    for c, e in fail_chain:
        err = F.when(c, F.lit(e)) if err is None else err.when(c, F.lit(e))
        r = F.lit(rule_id_for(e))
        rule = F.when(c, r) if rule is None else rule.when(c, r)
    val_txt, val_und = _render_value(tv)
    bad = err.isNotNull() & ~val_und
    if und is not None:
        bad = bad & ~F.coalesce(und, F.lit(False))
    bad = F.coalesce(bad, F.lit(False))
    if stage is not None:
        err = stage.add(level + 1, err)
        rule = stage.add(level + 1, rule)
        val_txt = stage.add(level + 1, val_txt)
        bad = stage.add(level + 1, bad)
    s.leaf_fail = (err, rule, val_txt, bad)
    if path is None:
        # no literal path: no standalone viols/fout — the parts above are
        # for a composing parent (union at its own path, array at [i])
        return s
    s.femit = F.coalesce(cond, F.lit(False)) | bad
    s.viols = F.when(
        bad,
        F.array(
            F.struct(
                F.lit(path).alias("path"),
                rule.alias("rule"),
                err.alias("error"),
                val_txt.alias("value"),
            )
        ),
    ).otherwise(_empty_viols())
    s.fout = F.when(
        F.coalesce(cond, F.lit(False)), F.lit("null")
    ).otherwise(F.concat(F.lit('{"error":"'), err, F.lit('","value":'), val_txt, F.lit("}")))
    return s


def _string_cond(tv: Column) -> Column:
    return _present(tv) & (_vtype(tv) == "STRING")


def _len_bounds(n: Column, node: dict) -> Column:
    """minLength/maxLength with the reference's ``|| 0`` / ``|| MAX``
    falsy defaults (validate.ts:109-110,171-172)."""
    max_len = node.get("maxLength")
    min_len = node.get("minLength")
    max_len = MAX_SAFE if js_falsy(max_len) else max_len
    min_len = 0 if js_falsy(min_len) else min_len
    return (n >= F.lit(min_len)) & (n <= F.lit(max_len))


def _screen(
    node: Any,
    tv: Column,
    txt: Column | None,
    custom: dict[str, Any],
    stack: frozenset,
    depth: int,
    path: str | None = None,
    stage: _Stager | None = None,
    level: int = 0,
) -> _Screen:
    """Compile schema ``node`` and normalize the fail-side defaults: a node
    that didn't compile a fail side can still emit its PASS outcome
    (femit=cond, empty viols, fout=out)."""
    s = _screen_raw(node, tv, txt, custom, stack, depth, path, stage, level)
    if s.femit is None:
        s.femit = F.coalesce(s.cond, F.lit(False))
    if s.viols is None:
        s.viols = _empty_viols()
    if s.fout is None:
        s.fout = s.out
    return s


def _screen_raw(
    node: Any,
    tv: Column,
    txt: Column | None,
    custom: dict[str, Any],
    stack: frozenset,
    depth: int,
    path: str | None,
    stage: _Stager | None,
    level: int,
) -> _Screen:
    """Compile schema ``node`` over value variant ``tv`` (SQL NULL =
    missing / JS undefined). ``txt`` is the node's original JSON text when
    it sits at a literal path from the root (needed for data-order keys),
    else None. ``path`` is the node's literal JSONPath when known (the
    fail screen's violation rows need it), else None (fail side off)."""
    if depth > _MAX_DEPTH:
        raise ScreenNotApplicable("schema nesting beyond screen depth budget")

    node, extracted = extract_types(node)
    if extracted is not None:
        custom = extracted

    if isinstance(node, str):
        resolved = custom.get(node)
        # mirror interp: a truthy custom entry shadows even builtin names
        if not js_falsy(resolved) and resolved is not None:
            if node in stack:
                raise ScreenNotApplicable(f"recursive custom type {node!r}")
            return _screen(resolved, tv, txt, custom, stack | {node}, depth + 1, path, stage, level)
        from yaschva_spark import errors as E

        if node == "any":
            return _leaf(F.lit(True), exact=True, level=level)
        if node == "?":
            return _leaf(
                tv.isNull(), exact=True, tv=tv, path=path, stage=stage, level=level,
                fail_chain=[(tv.isNotNull(), E.NOT_UNDEFINED)],
            )
        if node == "null":
            cond = tv.isNotNull() & F.is_variant_null(tv)
            return _leaf(
                cond, exact=True, tv=tv, path=path, stage=stage, level=level,
                fail_chain=[(~cond, E.NOT_NULL)],
            )
        if node == "string":
            return _leaf(
                _string_cond(tv), exact=True, tv=tv, path=path, stage=stage, level=level,
                fail_chain=[(~_string_cond(tv), E.NOT_STRING)],
            )
        if node == "boolean":
            cond = _present(tv) & (_vtype(tv) == "BOOLEAN")
            return _leaf(
                cond, exact=True, tv=tv, path=path, stage=stage, level=level,
                fail_chain=[(~cond, E.NOT_BOOLEAN)],
            )
        if node == "number":
            cond = _present(tv) & _is_number_type(tv) & _finite(_dval(tv))
            return _leaf(
                cond, exact=True, tv=tv, path=path, stage=stage, level=level,
                fail_chain=[(~cond, E.NOT_NUMBER)],
            )
        if node == "integer":
            v = _dval(tv)
            cond = (
                _present(tv)
                & _is_number_type(tv)
                & _finite(v)
                & (F.floor(v) == v)
                & (F.abs(v) <= F.lit(float(MAX_SAFE)))
            )
            # every failure mode is the same error (interp._v_integer), and
            # the 2^53 window compares exactly through double for any i64
            return _leaf(
                cond, exact=True, tv=tv, path=path, stage=stage, level=level,
                fail_chain=[(~cond, E.NOT_INTEGER)],
            )
        raise ScreenNotApplicable(f"custom type {node!r}")

    if isinstance(node, list):
        return _screen_union(node, tv, txt, custom, stack, depth, path, stage, level)

    if isinstance(node, dict):
        from yaschva_spark import errors as E

        if "$type" in node:
            return _screen(node["$type"], tv, txt, custom, stack, depth + 1, path, stage, level)
        if "$enum" in node:
            enums = node["$enum"]
            cond = _string_cond(tv)
            chain = [(~_string_cond(tv), E.NOT_STRING)]
            if enums:  # reference: `enums && enums.length && ...` skips []
                s = F.try_variant_get(tv, "$", "string")
                cond = cond & s.isin(list(enums))
                chain.append((~s.isin(list(enums)), E.enum_mismatch(list(enums))))
            return _leaf(cond, exact=True, tv=tv, path=path, fail_chain=chain,
                         stage=stage, level=level)
        if "$string" in node:
            spec = node["$string"]
            s = F.try_variant_get(tv, "$", "string")
            cond = _string_cond(tv)
            chain = [(~_string_cond(tv), E.NOT_STRING)]
            from yaschva_spark.typed import js_strlen  # UTF-16 code units

            if not js_falsy(spec.get("minLength")):
                cond = cond & (js_strlen(s) >= F.lit(spec["minLength"]))
                chain.append((js_strlen(s) < F.lit(spec["minLength"]), E.STR_TOO_SHORT))
            if not js_falsy(spec.get("maxLength")):
                cond = cond & (js_strlen(s) <= F.lit(spec["maxLength"]))
                chain.append((js_strlen(s) > F.lit(spec["maxLength"]), E.STR_TOO_LONG))
            pattern = spec.get("regex")
            if not js_falsy(pattern):
                if typed_unsafe(pattern):
                    raise ScreenNotApplicable("ECMA-only regex")
                cond = cond & s.rlike(to_java_pattern(pattern))
                chain.append((~s.rlike(to_java_pattern(pattern)), E.REGEX_MISMATCH))
            return _leaf(cond, exact=True, tv=tv, path=path, fail_chain=chain,
                         stage=stage, level=level)
        if "$number" in node:
            spec = node["$number"]
            v = _dval(tv)
            numeric = _present(tv) & _is_number_type(tv) & _finite(v)
            cond = numeric
            chain = [(~numeric, E.NOT_NUMBER)]
            und = None
            lo, hi = spec.get("min"), spec.get("max")
            if lo is not None or hi is not None:
                cond = cond & _exact_as_double(tv, v)
                # outside the integer-exact window neither the bound
                # comparison nor the below/above choice is trustworthy
                und = numeric & ~_exact_as_double(tv, v)
            if lo is not None:
                cond = cond & (v >= F.lit(float(lo)))
                chain.append((v < F.lit(float(lo)), E.NUM_BELOW_MIN))
            if hi is not None:
                cond = cond & (v <= F.lit(float(hi)))
                chain.append((v > F.lit(float(hi)), E.NUM_ABOVE_MAX))
            # the representability guard makes bounded checks one-way only
            return _leaf(
                cond, exact=lo is None and hi is None,
                tv=tv, path=path, fail_chain=chain, und=und,
                stage=stage, level=level,
            )
        if "$array" in node:
            return _screen_array(node, tv, custom, stack, depth, path, stage, level)
        if "$map" in node:
            return _screen_map(node, tv, txt, custom, stack, depth, path, stage, level)
        if "$and" in node:
            try:
                merged = combine_and(node, custom)
            except SchemaError:
                # the reference data-FAILS every value here (validate.ts:
                # 244-247's combine throw path) — unprovable, not wrong
                raise ScreenNotApplicable("$and members not all objects")
            return _screen(merged, tv, txt, custom, stack, depth + 1, path, stage, level)
        if not any(k.startswith("$") for k in node):
            return _screen_object(node, tv, txt, custom, stack, depth, path, stage, level)
        raise ScreenNotApplicable(f"unscreenable node keys {sorted(node)!r}")

    raise ScreenNotApplicable(f"unscreenable node {type(node).__name__}")


def _screen_union(
    node: list, tv: Column, txt: Column | None,
    custom: dict[str, Any], stack: frozenset, depth: int,
    path: str | None = None,
    stage: _Stager | None = None, level: int = 0,
) -> _Screen:
    """Ordered union prefix (module docstring): the when-chain replicates
    first-passing-branch output only while every earlier branch is exact.

    Fail side (r5): for a FULLY-covered union of compile-time-EXACT,
    fail-compiled leaves, total failure is decidable — ``~cond`` means
    every branch failed (exactness), and the interpreter's output is
    ``{"error": UNION_MISMATCH, "value": v, "output": [each branch's
    error object, in order]}`` (interp._v_one_of / validate.ts:91-104)
    with violation rows: one union_mismatch row, then each branch's error
    row at the SAME path (violations_from_output's _branches list).
    Unions containing any non-exact branch (e.g. bounded $number, whose
    inexactness is row-dependent) or non-leaf branch keep the default
    (pass-only emission)."""
    if not node:
        raise ScreenNotApplicable("empty union (schema error path)")
    chain: list[_Screen] = []
    for branch in node:
        try:
            # branches get the union's own path: their standalone viols are
            # ignored (the union composes its own rows below), and branch
            # errors DO report at the union's path (validate.ts:95-103)
            r = _screen(branch, tv, txt, custom, stack, depth + 1, path, stage, level)
        except ScreenNotApplicable:
            break
        chain.append(r)
        if not r.exact:
            break
    covered_all = len(chain) == len(node)
    if not chain:
        raise ScreenNotApplicable("no screenable union prefix")
    cond = chain[0].cond
    for r in chain[1:]:
        cond = cond | r.cond
    out = F.when(chain[0].cond, chain[0].out)
    for r in chain[1:]:
        out = out.when(r.cond, r.out)
    exact = covered_all and all(r.exact for r in chain)
    # assembly stays unstaged: branch conds/outs are already staged leaf
    # columns, so the when-chain is cheap per reference
    s = _Screen(
        cond,
        out,
        exact=exact,
        null_out=all(r.null_out for r in chain),
    )
    if exact and path is not None and all(r.leaf_fail for r in chain):
        from yaschva_spark.errors import UNION_MISMATCH, rule_id_for

        val = chain[0].leaf_fail[2]  # same tv -> identical rendering
        ufail = None
        for r in chain:
            b = r.leaf_fail[3]
            ufail = b if ufail is None else ufail & b
        ufail = ~F.coalesce(cond, F.lit(False)) & F.coalesce(ufail, F.lit(False))
        rows = [
            F.struct(
                F.lit(path).alias("path"),
                F.lit(rule_id_for(UNION_MISMATCH)).alias("rule"),
                F.lit(UNION_MISMATCH).alias("error"),
                val.alias("value"),
            )
        ]
        branch_objs = []
        for r in chain:
            err_i, rule_i, _v, _b = r.leaf_fail
            rows.append(
                F.struct(
                    F.lit(path).alias("path"),
                    rule_i.alias("rule"),
                    err_i.alias("error"),
                    val.alias("value"),
                )
            )
            branch_objs.append(
                F.concat(F.lit('{"error":"'), err_i, F.lit('","value":'), val, F.lit("}"))
            )
        s.femit = F.coalesce(cond, F.lit(False)) | ufail
        s.viols = F.when(ufail, F.array(*rows)).otherwise(_empty_viols())
        body = F.concat_ws(",", *branch_objs) if branch_objs else F.lit("")
        s.fout = F.when(F.coalesce(cond, F.lit(False)), out).otherwise(
            F.concat(
                F.lit('{"error":"'), F.lit(UNION_MISMATCH),
                F.lit('","value":'), val,
                F.lit(',"output":['), body, F.lit("]}"),
            )
        )
    return s


def _screen_array(
    node: dict, tv: Column, custom: dict[str, Any], stack: frozenset, depth: int,
    path: str | None = None, stage: _Stager | None = None, level: int = 0,
) -> _Screen:
    """validateArray (validate.ts:106-126): length bounds, then every
    element. Elements are never JS-undefined; a JSON null element arrives
    as a variant-null (probed), so leaf screens stay sound. Output is the
    flat() of element outputs — with null-output elements (enforced),
    that is exactly ``[null,...]``.

    Fail side (r5): two exactly-renderable failure shapes emit JVM-side —
    a LENGTH failure (the offending value is the element count, an exact
    integer; error string is the compile-time arr_length constant), and
    per-ELEMENT leaf failures when the element screen is compile-time
    exact and every failing element's (error, value) is renderable:
    violation rows gain ``[i]`` path segments in element order, and the
    output is the element-wise pass/fail rendering (flat() is identity
    because nested-array elements are never emitted — their offending
    value is unrenderable, so those rows go to the interpreter, which
    also sidesteps flat()'s index-shifting splice). NOT_ARRAY failures
    report the whole payload as the value — interpreter."""
    arr = F.try_variant_get(tv, "$", "array<variant>")
    holder: dict[str, _Screen] = {}

    def elem_cond(e: Column) -> Column:
        # lambda scope: element subtrees reference the lambda variable and
        # must NOT be staged as projection columns
        r = _screen(node["$array"], e, None, custom, stack, depth + 1)
        holder["r"] = r
        return r.cond

    all_ok = F.forall(arr, elem_cond)
    if not holder["r"].null_out:
        raise ScreenNotApplicable(
            "array element output is not null (needs per-element text)"
        )
    struct_base = tv.isNotNull() & _vtype(tv).startswith("ARRAY")
    len_ok = _len_bounds(F.size(arr), node)
    cond = struct_base & len_ok & all_ok
    out = F.concat(
        F.lit("["),
        F.array_join(F.transform(arr, lambda e: F.lit("null")), ","),
        F.lit("]"),
    )
    # element screens are elementwise ⇔, and only real JSON arrays have
    # ARRAY type — matching the reference's isArray gate exactly
    s = _Screen(cond, out, exact=holder["r"].exact, null_out=False)
    if path is None or holder["r"].leaf_fail is None or not holder["r"].exact:
        return s
    from yaschva_spark import errors as E

    max_len = node.get("maxLength")
    min_len = node.get("minLength")
    len_err = E.arr_length(
        0 if js_falsy(min_len) else min_len,
        E.MAX_SAFE_INTEGER if js_falsy(max_len) else max_len,
    )
    if not _ERR_SAFE.match(len_err):
        return s

    def elem_fail(e: Column) -> _Screen:
        return _screen(node["$array"], e, None, custom, stack, depth + 1)

    # every element's outcome decided AND renderable (exact elements:
    # cond ⇔ pass, bad ⇒ fail with exact (error, value))
    def decided(e: Column) -> Column:
        r = elem_fail(e)
        _err, _rule, _val, bad = r.leaf_fail
        return F.coalesce(r.cond, F.lit(False)) | F.coalesce(bad, F.lit(False))

    all_decided = F.forall(arr, decided)
    len_fail = F.coalesce(struct_base & ~len_ok, F.lit(False))
    size_txt = F.size(arr).cast("string")
    cond_f = F.coalesce(cond, F.lit(False))
    s.femit = cond_f | len_fail | F.coalesce(
        struct_base & len_ok & all_decided, F.lit(False)
    )

    def viol_rows(e: Column, i: Column) -> Column:
        r = elem_fail(e)
        err, rule, val, bad = r.leaf_fail
        return F.when(
            F.coalesce(bad, F.lit(False)) & ~F.coalesce(r.cond, F.lit(False)),
            F.array(
                F.struct(
                    F.concat(F.lit(f"{path}["), i.cast("string"), F.lit("]")).alias("path"),
                    rule.alias("rule"),
                    err.alias("error"),
                    val.alias("value"),
                )
            ),
        ).otherwise(_empty_viols())

    s.viols = (
        F.when(cond_f, _empty_viols())
        .when(
            len_fail,
            F.array(
                F.struct(
                    F.lit(path).alias("path"),
                    F.lit(E.rule_id_for(len_err)).alias("rule"),
                    F.lit(len_err).alias("error"),
                    size_txt.alias("value"),
                )
            ),
        )
        .otherwise(F.flatten(F.transform(arr, viol_rows)))
    )

    def elem_out(e: Column) -> Column:
        r = elem_fail(e)
        err, _rule, val, _bad = r.leaf_fail
        return F.when(F.coalesce(r.cond, F.lit(False)), F.lit("null")).otherwise(
            F.concat(F.lit('{"error":"'), err, F.lit('","value":'), val, F.lit("}"))
        )

    s.fout = (
        F.when(cond_f, out)
        .when(
            len_fail,
            F.concat(
                F.lit('{"error":"'), F.lit(len_err),
                F.lit('","value":'), size_txt, F.lit("}"),
            ),
        )
        .otherwise(
            F.concat(F.lit("["), F.array_join(F.transform(arr, elem_out), ","), F.lit("]"))
        )
    )
    return s


def _screen_map(
    node: dict, tv: Column, txt: Column | None,
    custom: dict[str, Any], stack: frozenset, depth: int,
    path: str | None = None, stage: _Stager | None = None, level: int = 0,
) -> _Screen:
    """validateMap (validate.ts:161-193): member-count bounds, optional key
    regex, every value. NOT exact: the reference also accepts JS arrays
    (indices as keys); those rows screen false. Output needs data-order
    keys, hence the text column.

    Fail side (r5): when the STRUCTURAL checks hold (true JSON object,
    size bounds, render-safe keys, key regex) the map's outcome is its
    VALUES' — per-key value failures emit with ``$.path.<key>`` violation
    rows in data-key order, exactly like object fields, provided the value
    screen is compile-time exact and each failing value renders exactly.
    Structural failures report the whole map as the offending value —
    interpreter."""
    if txt is None:
        raise ScreenNotApplicable("$map not at a literal path (needs text)")
    mp = F.try_variant_get(tv, "$", "map<string,variant>")
    keys = F.map_keys(mp)  # sorted by the cast — fine for order-free checks
    holder: dict[str, _Screen] = {}

    def val_cond(v: Column) -> Column:
        r = _screen(node["$map"], v, None, custom, stack, depth + 1)
        holder["r"] = r
        return r.cond

    vals_ok = F.forall(F.map_values(mp), val_cond)
    if not holder["r"].null_out:
        raise ScreenNotApplicable(
            "map value output is not null (needs per-value text)"
        )
    struct_ok = (
        tv.isNotNull()
        & _vtype(tv).startswith("OBJECT")
        & _len_bounds(F.size(mp), node)
        # keys must render into output text verbatim (json.dumps identity)
        & F.forall(keys, lambda k: k.rlike(_MAP_KEY_SAFE_RLIKE))
    )
    pattern = node.get("regex")
    if not js_falsy(pattern):
        if typed_unsafe(pattern):
            raise ScreenNotApplicable("ECMA-only map key regex")
        jp = to_java_pattern(pattern)
        struct_ok = struct_ok & F.forall(keys, lambda k: k.rlike(jp))
    cond = struct_ok & vals_ok
    data_keys = F.array_distinct(F.json_object_keys(txt))
    body = F.array_join(
        F.transform(data_keys, lambda k: F.concat(F.lit('"'), k, F.lit('":null'))),
        ",",
    )
    out = F.concat(F.lit("{"), body, F.lit("}"))
    s = _Screen(cond, out, exact=False, null_out=False)
    if path is None or holder["r"].leaf_fail is None or not holder["r"].exact:
        return s

    def val_screen(k: Column) -> _Screen:
        return _screen(node["$map"], F.element_at(mp, k), None, custom, stack, depth + 1)

    def decided(v: Column) -> Column:
        r = _screen(node["$map"], v, None, custom, stack, depth + 1)
        _e, _r, _v, bad = r.leaf_fail
        return F.coalesce(r.cond, F.lit(False)) | F.coalesce(bad, F.lit(False))

    cond_f = F.coalesce(cond, F.lit(False))
    s.femit = cond_f | F.coalesce(
        struct_ok & F.forall(F.map_values(mp), decided), F.lit(False)
    )

    def viol_rows(k: Column) -> Column:
        r = val_screen(k)
        err, rule, val, bad = r.leaf_fail
        return F.when(
            F.coalesce(bad, F.lit(False)) & ~F.coalesce(r.cond, F.lit(False)),
            F.array(
                F.struct(
                    F.concat(F.lit(f"{path}."), k).alias("path"),
                    rule.alias("rule"),
                    err.alias("error"),
                    val.alias("value"),
                )
            ),
        ).otherwise(_empty_viols())

    s.viols = F.when(cond_f, _empty_viols()).otherwise(
        F.flatten(F.transform(data_keys, viol_rows))
    )

    def key_out(k: Column) -> Column:
        r = val_screen(k)
        err, _rule, val, _bad = r.leaf_fail
        v_out = F.when(F.coalesce(r.cond, F.lit(False)), F.lit("null")).otherwise(
            F.concat(F.lit('{"error":"'), err, F.lit('","value":'), val, F.lit("}"))
        )
        return F.concat(F.lit('"'), k, F.lit('":'), v_out)

    s.fout = F.when(cond_f, out).otherwise(
        F.concat(
            F.lit("{"), F.array_join(F.transform(data_keys, key_out), ","), F.lit("}")
        )
    )
    return s


def _screen_object(
    node: dict, tv: Column, txt: Column | None,
    custom: dict[str, Any], stack: frozenset, depth: int,
    path: str | None = None,
    stage: _Stager | None = None, level: int = 0,
) -> _Screen:
    """validateObject (validate.ts:128-159): closed world. NOT exact (the
    reference also accepts JS arrays). Output is data keys in DATA order
    (text-level ``json_object_keys`` — VARIANT sorts keys) followed by
    missing declared keys in schema order, each rendered through its own
    field output via an ``element_at`` dispatch map.

    Fail side: when the STRUCTURAL checks hold (real JSON object, closed
    keyset) the object's outcome is decided entirely by its fields, so the
    object is fail-emittable exactly when every field is — viols are the
    fields' viols concatenated in the interpreter's output order (data keys
    first, then missing declared keys; interp._v_object builds its output
    dict in that order and violations_from_output flattens it in dict
    order), and fout dispatches each field's fail-aware output. Structural
    failures (non-object value, extra keys) go to the interpreter: their
    offending value is the whole object, which the JVM cannot re-render
    canonically."""
    if txt is None:
        raise ScreenNotApplicable("object not at a literal path (needs text)")
    field_keys: list[str] = []
    subs: list[_Screen] = []
    out_pairs: list[Column] = []
    fout_pairs: list[Column] = []
    viol_pairs: list[Column] = []
    for schema_key, sub in node.items():
        data_key = unescape_key(schema_key)
        if not _SAFE_KEY.match(data_key):
            raise ScreenNotApplicable(f"key {data_key!r} not screen-safe")
        field_keys.append(data_key)
        tv_k = F.try_variant_get(tv, f"$.{data_key}", "variant")
        txt_k = F.get_json_object(txt, f"$.{data_key}")
        sub_level = level
        if stage is not None:
            # materialize the sub-variant/sub-text ONCE: every leaf op of
            # every chain below otherwise re-extracts it from the parent
            # (and for the root, re-parses the JSON text)
            tv_k = stage.add(level + 1, tv_k)
            txt_k = stage.add(level + 1, txt_k)
            sub_level = level + 1
        sub_path = f"{path}.{data_key}" if path is not None else None
        r = _screen(sub, tv_k, txt_k, custom, stack, depth + 1, sub_path, stage, sub_level)
        subs.append(r)
        out_pairs.extend([F.lit(data_key), r.out])
        fout_pairs.extend([F.lit(data_key), r.fout])
        viol_pairs.extend([F.lit(data_key), r.viols])

    data_keys = F.array_distinct(F.json_object_keys(txt))
    if stage is not None:
        # references txt (level <= this node's level): stage with the
        # field extractions
        data_keys = stage.add(level + 1, data_keys)
    if field_keys:
        declared = F.array(*[F.lit(k) for k in field_keys])
    else:
        declared = F.array().cast("array<string>")
    keyset_ok = F.size(F.array_except(data_keys, declared)) == 0
    struct_ok = tv.isNotNull() & _vtype(tv).startswith("OBJECT") & keyset_ok
    if stage is not None:
        struct_ok = stage.add(level + 2, F.coalesce(struct_ok, F.lit(False)))
    cond = struct_ok
    for r in subs:
        cond = cond & r.cond

    if field_keys:
        all_keys = F.concat(data_keys, F.array_except(declared, data_keys))
        if stage is not None:
            all_keys = stage.add(level + 2, all_keys)

        def _dispatch(pairs: list[Column]) -> Column:
            m = F.create_map(*pairs)
            body = F.array_join(
                F.transform(
                    all_keys,
                    lambda k: F.concat(
                        F.lit('"'), k, F.lit('":'), F.element_at(m, k)
                    ),
                ),
                ",",
            )
            return F.concat(F.lit("{"), body, F.lit("}"))

        out = _dispatch(out_pairs)
        fout = _dispatch(fout_pairs)
        vmap = F.create_map(*viol_pairs)
        viols = F.flatten(
            F.transform(
                all_keys, lambda k: F.coalesce(F.element_at(vmap, k), _empty_viols())
            )
        )
        femit = struct_ok if stage is not None else F.coalesce(struct_ok, F.lit(False))
        for r in subs:
            femit = femit & F.coalesce(r.femit, F.lit(False))
        # assembly stays unstaged: it is concat/dispatch over already-staged
        # leaf and key columns, cheap per reference
        return _Screen(
            cond, out, exact=False, null_out=False,
            femit=femit, fout=fout, viols=viols,
        )
    out = F.lit("{}")
    return _Screen(cond, out, exact=False, null_out=False)


def compile_screens(schema: Any, raw: Column):
    """One staged compilation, both screens (r5). Returns ``(levels,
    outputs)``: ``levels`` is an ordered list of ``{column_name: Column}``
    dicts of shared subexpressions (see :class:`_Stager`) that
    :func:`select_levels` appends to the frame holding ``raw``, and
    ``outputs``, whose expressions reference those columns by name, are

    * ``"pass"`` — provably-pass boolean;
    * ``"pass_out"`` — yv_output for proven-pass rows;
    * ``"emit"`` — outcome (pass OR fail) exactly JVM-representable;
    * ``"viols"`` — the interpreter's violation rows, valid when ``emit``;
    * ``"fail_out"`` — yv_output valid when ``emit`` (== pass_out on pass).

    Rows with ``emit & ~pass`` are provably FAILING with byte-exact
    violations/output — they skip Arrow entirely. Rows with ``~emit`` run
    interpreted. Raises :class:`ScreenNotApplicable` outside the fragment
    (same fragment as the pass screen; the fail side degrades per-node,
    never widens the fragment). Measured at sf0.1, staging cuts the
    three-way split's screen cost ~4x: an unstaged tree re-evaluates every
    leaf's variant ops inside femit, viols, fout, and both dispatch maps."""
    stage = _Stager()
    pv = stage.add(0, F.try_parse_json(raw))
    s = _screen(schema, pv, raw, {}, frozenset(), 0, "$", stage, 0)
    return stage.levels, {
        "pass": F.coalesce(s.cond, F.lit(False)),
        "pass_out": s.out,
        "emit": F.coalesce(s.femit, F.lit(False)),
        "viols": s.viols,
        "fail_out": s.fout,
    }


def select_levels(df: DataFrame, levels: list[dict[str, Column]]) -> DataFrame:
    """``df`` with the staged columns of :func:`compile_screens` appended,
    one projection per non-empty level, in level order."""
    for lvl in levels:
        if lvl:
            df = df.select("*", *[c.alias(n) for n, c in lvl.items()])
    return df
