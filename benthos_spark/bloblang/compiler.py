"""Compile Bloblang ASTs to Spark Column expressions.

Reference execution model: mapping/executor.go:116-213 interprets a
closure tree per part.  Here each statement compiles once into Column
expressions over the input row (`this`), previously assigned output
fields (`root.*`), `let` variables (inlined), and the `meta` map; the
whole mapping becomes ONE projection that Catalyst optimizes.

Semantics notes (deviations documented):
- `+` compiles to numeric addition unless either operand is a string
  literal or a known-string method result, in which case it's concat
  (the reference decides number-vs-string at runtime per value —
  arithmetic.go:134-222; a columnar engine decides per column type).
- `deleted()` (type_helpers.go:75) is supported as `root = deleted()`
  inside/as an if expression → compiled to a row filter.
- `nothing()` keeps the previous value of the assignment target.
- `throw(msg)` compiles to raise_error (fails the query, not the part;
  use .catch for the error-column protocol).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from benthos_spark.bloblang import ast
from benthos_spark.bloblang.parser import parse_mapping
from benthos_spark.datamodel import ERROR_COL, META_COL
from benthos_spark.functions import timestamps as ts_fns


class BloblangCompileError(ValueError):
    pass


_DELETED = object()   # sentinel compile result for deleted()
_NOTHING = object()   # sentinel compile result for nothing()


@dataclass
class Scope:
    """Name resolution for one mapping execution."""
    this_col: Column | None            # None → row mode (top-level columns)
    root_fields: dict                  # nested dict path → Column
    variables: dict[str, Column] = dc_field(default_factory=dict)
    this_override: Column | None = None  # lambda rebinding (map_each etc.)
    named_bindings: dict[str, Column] = dc_field(default_factory=dict)
    maps: dict = dc_field(default_factory=dict)   # name → [Statement]
    applying: frozenset = frozenset()  # in-flight .apply names (recursion)
    df: "DataFrame | None" = None      # input frame for compile-time
    #                                     schema (type-dispatched methods)
    dtype_cache: dict = dc_field(default_factory=dict)  # shared memo
    named_dtypes: dict = dc_field(default_factory=dict)  # lambda elem types
    override_dtype: object = None      # dtype of this_override (bare form)
    var_dtypes: dict = dc_field(default_factory=dict)    # $var dtypes
    lenient: bool = False   # under .catch()/.or(): errors → null, not raise
    # per-row error channel: (condition, message Column) pairs appended
    # by failing methods; MappingExec.apply composes them into the
    # _error column (the reference's error-flag protocol) when the
    # frame carries one.  Shared list — child scopes append to it.
    error_conds: list = dc_field(default_factory=list)
    in_lambda: bool = False   # inside an element lambda: conditions
    #                           reference lambda vars, can't lift to
    #                           row level → raise instead
    guard: Column | None = None   # short-circuit context (&&/||/if
    #                               branch): error conds fire only
    #                               when the branch is live

    def child(self, this_override: Column | None = None,
              named: dict[str, Column] | None = None,
              named_dtypes: dict | None = None,
              override_dtype=None,
              lenient: bool | None = None,
              in_lambda: bool | None = None,
              guard: Column | None = None) -> "Scope":
        g = self.guard
        if guard is not None:
            g = guard if g is None else (g & guard)
        return Scope(self.this_col, self.root_fields, self.variables,
                     this_override if this_override is not None
                     else self.this_override,
                     named or self.named_bindings,
                     self.maps, self.applying, self.df,
                     self.dtype_cache,
                     named_dtypes if named_dtypes is not None
                     else self.named_dtypes,
                     override_dtype if override_dtype is not None
                     else (self.override_dtype
                           if this_override is None else None),
                     self.var_dtypes,
                     self.lenient if lenient is None else lenient,
                     self.error_conds,
                     self.in_lambda if in_lambda is None else in_lambda,
                     g)

    def has_error_channel(self) -> bool:
        from benthos_spark.datamodel import ERROR_COL as _EC
        return (not self.in_lambda and self.df is not None
                and _EC in self.df.columns)

    def add_error_cond(self, cond, msg: Column) -> None:
        if self.guard is not None:
            cond = self.guard & cond
        self.error_conds.append((cond, msg))


def _walk_schema(dt, path: list[str]):
    """Walk a dot path through a known dtype; None = fell off."""
    from pyspark.sql import types as T
    for seg in path:
        if isinstance(dt, T.ArrayType) and seg.lstrip("-").isdigit():
            dt = dt.elementType
            continue
        if isinstance(dt, T.StructType):
            names = {f.name: f.dataType for f in dt.fields}
            if seg not in names:
                return None
            dt = names[seg]
        elif isinstance(dt, T.MapType):
            dt = dt.valueType
        else:
            return None
    return dt


def _this_dtype(scope: Scope):
    """Dtype of the document column (`this_col`), probed once per
    mapping and memoized."""
    if scope.this_col is None or scope.df is None:
        return None
    key = ("__this__", id(scope.this_col))
    if key not in scope.dtype_cache:
        try:
            scope.dtype_cache[key] = scope.df.select(
                scope.this_col.alias("__t")).schema[0].dataType
        except Exception:
            scope.dtype_cache[key] = None
    return scope.dtype_cache[key]


_STRING_RESULT_METHODS = {
    "string", "uppercase", "lowercase", "capitalize", "trim",
    "strip_html", "encode", "decode", "quote", "unquote", "join",
    "format", "replace", "replace_many", "re_replace", "escape_html",
    "unescape_html", "escape_url_query", "unescape_url_query",
    "format_timestamp", "format_timestamp_strftime", "format_yaml",
    "hash",
}
_TYPE_PRESERVING_METHODS = {
    "sort", "unique", "not_null", "not_empty", "or", "catch", "apply",
    "reverse", "slice",
}


def _node_dtype(node, scope: Scope):
    """Pure-Python dtype inference (no JVM round-trips): plain paths
    walk the frame/document schema; method chains propagate through a
    small signature table.  None = unknown → callers fall back to the
    shape heuristics that predate schema dispatch."""
    from pyspark.sql import types as T
    if isinstance(node, ast.Context):
        if node.path and node.path[0] in scope.named_dtypes:
            base = scope.named_dtypes[node.path[0]]
            return None if base is None \
                else _walk_schema(base, node.path[1:])
        if scope.this_override is not None:
            return (None if scope.override_dtype is None
                    else _walk_schema(scope.override_dtype, node.path))
        if scope.named_bindings and node.path \
                and node.path[0] in scope.named_bindings:
            return None  # bound but dtype unknown
        if scope.this_col is not None:
            base = _this_dtype(scope)
            return None if base is None else _walk_schema(base, node.path)
        if not node.path or scope.df is None:
            return None
        names = {f.name: f.dataType for f in scope.df.schema.fields}
        if node.path[0] not in names:
            return None
        return _walk_schema(names[node.path[0]], node.path[1:])
    if isinstance(node, ast.VarRef):
        return scope.var_dtypes.get(node.name)
    if isinstance(node, ast.FuncCall) and node.name == "var" \
            and node.args and isinstance(node.args[0], ast.Literal):
        return scope.var_dtypes.get(str(node.args[0].value))
    if isinstance(node, ast.FuncCall) and node.name == "json":
        base = (_this_dtype(scope) if scope.this_col is not None
                else None)
        if base is None:
            return None
        if not node.args:
            return base
        if isinstance(node.args[0], ast.Literal):
            return _walk_schema(base, str(node.args[0].value).split("."))
        return None
    if isinstance(node, ast.FieldAccess):
        base = _node_dtype(node.target, scope)
        return None if base is None else _walk_schema(base, [node.name])
    if isinstance(node, ast.Literal):
        v = node.value
        if isinstance(v, bool):
            return T.BooleanType()
        if isinstance(v, int):
            return T.LongType()
        if isinstance(v, float):
            return T.DoubleType()
        if isinstance(v, str):
            return T.StringType()
        return None
    if isinstance(node, ast.ObjectLit):
        # literal objects compile to structs (see _compile); inferring
        # the struct type here lets keys/values/map_each/filter/merge
        # take their struct-aware branches on literal targets too
        fields = []
        for k, v in node.entries:
            if not isinstance(k, ast.Literal):
                return None
            vt = _node_dtype(v, scope)
            fields.append(T.StructField(str(k.value),
                                        vt if vt is not None
                                        else T.StringType()))
        return T.StructType(fields)
    if isinstance(node, ast.ArrayLit):
        et = None
        for it in node.items:
            t = _node_dtype(it, scope)
            if t is None:
                return None
            if et is None:
                et = t
            elif et != t:
                return None  # heterogeneous → VARIANT elsewhere
        return T.ArrayType(et) if et is not None \
            else T.ArrayType(T.StringType())
    if isinstance(node, ast.Binary):
        if node.op in ("==", "!=", ">", "<", ">=", "<=", "&&", "||"):
            return T.BooleanType()
        num = (T.LongType, T.IntegerType, T.DoubleType, T.FloatType)
        if node.op in ("+", "|"):
            lt = _node_dtype(node.left, scope)
            rt = _node_dtype(node.right, scope)
            if isinstance(lt, T.StringType) or isinstance(rt,
                                                          T.StringType):
                if node.op == "+" and (isinstance(lt, num)
                                       or isinstance(rt, num)):
                    # statically-mixed string/number `+` always errors
                    # (arithmetic.go TypeMismatch) — its value is null,
                    # not a string; claiming string here made .catch
                    # wrap the numeric fallback in VARIANT (r8 fuzzer)
                    return None
                return T.StringType()
        if node.op == "|":
            # coalesce: both sides same class → that class (r8 fuzzer
            # find: "(this.maybe | 5)" classified as unknown, so a
            # string + THAT took the concat lenience where the
            # reference raises a TypeMismatch)
            if isinstance(lt, num) and isinstance(rt, num):
                if isinstance(lt, (T.DoubleType, T.FloatType)) \
                        or isinstance(rt, (T.DoubleType, T.FloatType)):
                    return T.DoubleType()
                return T.LongType()
            if lt is not None and lt == rt:
                return lt
            return None
        if node.op in ("+", "-", "*", "/", "%"):
            lt = _node_dtype(node.left, scope)
            rt = _node_dtype(node.right, scope)
            if isinstance(lt, num) and isinstance(rt, num):
                if node.op == "/" or isinstance(
                        lt, (T.DoubleType, T.FloatType)) or isinstance(
                        rt, (T.DoubleType, T.FloatType)):
                    return T.DoubleType()
                return T.LongType()
        return None
    if isinstance(node, ast.FuncCall):
        if node.name in ("meta", "metadata", "root_meta") and node.args:
            return T.StringType()
        if node.name == "error":
            return T.StringType()
        if node.name == "errored":
            return T.BooleanType()
        if node.name == "content":
            return T.StringType()
    if isinstance(node, ast.Method):
        m = node.name
        if m == "bytes":
            return T.BinaryType()
        if m in _STRING_RESULT_METHODS:
            return T.StringType()
        if m == "number":
            return T.DoubleType()
        if m == "bool":
            return T.BooleanType()
        if m in ("split", "re_find_all", "filepath_split"):
            return T.ArrayType(T.StringType())
        if m in ("parse_json", "parse_yaml", "parse_xml") \
                and not node.args:
            return T.VariantType()
        if m == "keys":
            return T.ArrayType(T.StringType())
        if m in _TYPE_PRESERVING_METHODS:
            return _node_dtype(node.target, scope)
        if m == "from_all":
            base = _node_dtype(node.target, scope)
            return None if base is None else T.ArrayType(base)
        return None
    return None


def _path_absent(node, scope: Scope) -> bool:
    """True ONLY when the node is a plain path that provably falls off
    the known schema (missing column / dropped empty object); unknown
    or unwalkable contexts are never 'absent'."""
    if scope.named_bindings or scope.this_override is not None:
        return False
    if isinstance(node, ast.FieldAccess):
        base = _node_dtype(node.target, scope)
        return base is not None and _walk_schema(base, [node.name]) is None
    if isinstance(node, ast.Context):
        if scope.this_col is not None:
            base = _this_dtype(scope)
            return base is not None \
                and _walk_schema(base, node.path) is None
        if node.path and scope.df is not None:
            names = {f.name: f.dataType for f in scope.df.schema.fields}
            if node.path[0] not in names:
                return True
            return _walk_schema(names[node.path[0]],
                                node.path[1:]) is None
    return False


def _dtype(col: Column, scope: Scope, node=None):
    """Compile-time type of an expression.  With `node`: pure-Python
    inference only — NEVER a Spark analysis (method dispatch must not
    cost a JVM round-trip per call; unknown → heuristics).  Without
    `node` (whole-root expansion, document-column probe): one memoized
    analysis pass."""
    if scope.df is None:
        return None
    if node is not None:
        return _node_dtype(node, scope)
    try:
        key = str(col._jc)  # expression string; cheap vs analysis
    except Exception:
        key = None
    if key is not None and key in scope.dtype_cache:
        return scope.dtype_cache[key]
    try:
        out = scope.df.select(col.alias("__t")).schema[0].dataType
    except Exception:  # unresolved in this frame → caller falls back
        out = None
    if key is not None:
        scope.dtype_cache[key] = out
    return out


def _struct_as_map(col: Column, dt) -> Column:
    """StructType value → map<string, V> (JSON objects land as structs
    under schema inference; object methods need map semantics).
    Heterogeneous field types unify on their string form — the
    dynamic-document doctrine's lowest common denominator."""
    uniform = len({f.dataType.simpleString() for f in dt.fields}) <= 1
    names = F.array(*[F.lit(f.name) for f in dt.fields])
    vals = F.array(*[(col[f.name] if uniform
                      else col[f.name].cast("string"))
                     for f in dt.fields])
    return F.map_from_arrays(names, vals)


def _jsonschema_error_kernel(json_col: Column, schema: dict) -> Column:
    """First validation error message per JSON payload, NULL when
    valid (Arrow-batched; the jsonschema package is Python-only)."""
    import json as _json_mod

    from pyspark.sql.functions import pandas_udf

    schema_src = _json_mod.dumps(schema)

    @pandas_udf("string")
    def check(payloads):
        import json

        import jsonschema

        validator = jsonschema.Draft7Validator(json.loads(schema_src))

        def one(p):
            if p is None:
                return "null payload"
            try:
                errs = sorted(validator.iter_errors(json.loads(p)),
                              key=lambda e: list(e.path))
            except ValueError as e:
                return f"invalid JSON: {e}"
            return errs[0].message if errs else None
        return payloads.map(one)

    return check(json_col)


def _java_re(pat: str) -> str:
    """Go (RE2) named-group syntax `(?P<n>...)` → Java `(?<n>...)` so
    reference patterns run unchanged on the JVM regex engine."""
    import re
    return re.sub(r"\(\?P<", "(?<", pat)


def _is_deleted_call(node) -> bool:
    return isinstance(node, ast.FuncCall) and node.name == "deleted"


def _deleted_filter_branches(node):
    """An if/match expression that yields deleted() on some branches
    (the element-drop idiom inside map_each, methods_structured.go:759)
    → (keep-condition node, value node); None when no branch deletes.

    keep = the same expression with every branch value replaced by a
    True/False literal (deleted → False); value = the expression with
    deleted branches nulled (they're filtered before the transform)."""
    def has_deleted(v):
        if _is_deleted_call(v):
            return True
        if isinstance(v, (ast.IfExpr, ast.MatchExpr)):
            return _deleted_filter_branches(v) is not None
        return False

    def booled(v):
        if _is_deleted_call(v):
            return ast.Literal(False)
        if isinstance(v, (ast.IfExpr, ast.MatchExpr)):
            nested = _deleted_filter_branches(v)
            if nested is not None:
                return nested[0]  # nested keep-condition
        return ast.Literal(True)

    def nulled(v):
        if _is_deleted_call(v):
            return ast.Literal(None)
        if isinstance(v, (ast.IfExpr, ast.MatchExpr)):
            nested = _deleted_filter_branches(v)
            if nested is not None:
                return nested[1]  # nested value expression
        return v

    if isinstance(node, ast.IfExpr):
        vals = [v for _, v in node.branches] + (
            [node.otherwise] if node.otherwise is not None else [])
        if not any(has_deleted(v) for v in vals):
            return None
        keep = ast.IfExpr([(c, booled(v)) for c, v in node.branches],
                          booled(node.otherwise)
                          if node.otherwise is not None
                          else ast.Literal(True))
        val = ast.IfExpr([(c, nulled(v)) for c, v in node.branches],
                         nulled(node.otherwise)
                         if node.otherwise is not None else None)
        return keep, val
    if isinstance(node, ast.MatchExpr):
        vals = [v for _, v in node.cases]
        if not any(has_deleted(v) for v in vals):
            return None
        keep = ast.MatchExpr(node.subject,
                             [(c, booled(v)) for c, v in node.cases])
        val = ast.MatchExpr(node.subject,
                            [(c, nulled(v)) for c, v in node.cases])
        return keep, val
    return None


def _bloblang_type_name(dt) -> str | None:
    """Spark type → Bloblang .type() name (query/docs.go value types)."""
    from pyspark.sql import types as T
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, (T.LongType, T.IntegerType, T.DoubleType,
                       T.FloatType, T.DecimalType, T.ShortType,
                       T.ByteType)):
        return "number"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.ArrayType):
        return "array"
    if isinstance(dt, (T.StructType, T.MapType)):
        return "object"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    if isinstance(dt, T.TimestampType):
        return "timestamp"
    if isinstance(dt, T.NullType):
        return "null"
    return None


def _dig(col: Column, path: list[str]) -> Column:
    def step(c, seg):
        if seg.lstrip("-").isdigit():
            i = int(seg)  # gabs `.0` array-index segment
            return F.element_at(c, i + 1 if i >= 0 else i)
        return c[seg]
    return reduce(step, path, col)


def _resolve_this(scope: Scope, path: list[str]) -> Column:
    if scope.this_override is not None:
        return _dig(scope.this_override, path)
    if scope.this_col is not None:
        if path and scope.df is not None and not scope.named_bindings:
            # document mode: a path that falls off the schema is null
            # (gabs semantics), not an analysis error.  Pure schema
            # walk — no per-path analysis round-trips.
            base = _this_dtype(scope)
            if base is not None and _walk_schema(base, path) is None:
                return F.lit(None)
        return _dig(scope.this_col, path)
    if scope.df is not None and "__root__" in scope.df.columns:
        # a prior whole-root assignment parked the document in the
        # reserved __root__ column (branch / process_map child frames
        # after a scalar request_map): `this` reads that document,
        # exactly like document mode — row columns here are only the
        # __branch_/bookkeeping riders
        return _dig(F.col("__root__"), path)
    if not path:
        raise BloblangCompileError(
            "bare `this` needs a struct context (row mode has no single "
            "document column); assign fields explicitly or use `root = this` "
            "which maps to the identity projection")
    if scope.df is not None and "content" in scope.df.columns \
            and path[0] not in scope.df.columns:
        # message-shaped frame reading a document field: the row model
        # has no such column (and an unbound F.col could wrongly
        # resolve against a later root assignment in the projection
        # chain) — error here so map_text routes to the dynamic
        # interpreter, where `this` is the parsed content
        # (mapping/executor.go MapPart document semantics)
        raise BloblangCompileError(
            f"this.{'.'.join(path)}: not a column of the message frame")
    return _dig(F.col(path[0]), path[1:])


def _root_lookup(scope: Scope, path: list[str]) -> Column:
    node: object = scope.root_fields
    for i, seg in enumerate(path):
        if isinstance(node, dict):
            if seg not in node:
                raise BloblangCompileError(
                    f"root.{'.'.join(path)} read before assignment "
                    "(executor.go evaluates statements in order)")
            node = node[seg]
        elif isinstance(node, Column):
            return _dig(node, path[i:])
        else:
            raise BloblangCompileError(f"root.{'.'.join(path)}: not a field")
    if isinstance(node, dict):
        return _tree_to_struct(node)
    return node


def _tree_to_struct(tree: dict) -> Column:
    # Go's json.Marshal sorts map keys, so the reference's serialized
    # documents are key-sorted at every level — emit fields sorted to
    # match its observable content form
    fields = []
    for name in sorted(tree):
        val = tree[name]
        col = _tree_to_struct(val) if isinstance(val, dict) else val
        fields.append(col.alias(name))
    return F.struct(*fields)


# ---------------------------------------------------------------- literals

def _lit(value) -> Column:
    if value is None:
        return F.lit(None)
    return F.lit(value)


def _literal_value_types(node, scope: Scope, acc: set) -> None:
    """Collect the Bloblang type names an array-literal element can
    take (recursing through if/match branches) into `acc`; unknowable
    elements contribute nothing."""
    if isinstance(node, ast.IfExpr):
        for _, v in node.branches:
            _literal_value_types(v, scope, acc)
        if node.otherwise is not None:
            _literal_value_types(node.otherwise, scope, acc)
        return
    if isinstance(node, ast.MatchExpr):
        for _, v in node.cases:
            _literal_value_types(v, scope, acc)
        return
    if isinstance(node, ast.FuncCall) and node.name in ("deleted",
                                                        "nothing"):
        return
    dt = _node_dtype(node, scope)
    name = _bloblang_type_name(dt) if dt is not None else None
    if name is not None:
        acc.add(name)


def _scalar_to_variant(col: Column) -> Column:
    """Any value → VARIANT via a JSON round-trip (struct-wrapped so
    strings are quoted correctly); nulls stay null."""
    wrapped = F.parse_json(F.to_json(F.struct(col.alias("v"))))
    return F.variant_get(wrapped, "$.v", "variant")


def _literal_item(node: ast.Node, scope: Scope):
    """Compile an array/object literal member; deleted() branches
    become null (dropped at serialization / compacted in arrays).
    Returns (column, had_droppable_branch)."""
    stripped = _deleted_filter_branches(node) \
        if isinstance(node, (ast.IfExpr, ast.MatchExpr)) else None
    if stripped is not None:
        _, nulled = stripped
        return _compile(nulled, scope), True
    if isinstance(node, ast.IfExpr) and node.otherwise is None:
        return _compile(node, scope), True  # else-less if → Nothing
    return _compile(node, scope), False


def _lit_arg(node: ast.Node, what: str):
    """Extract a python literal argument (parse-time constant, like the
    reference's function args)."""
    if isinstance(node, ast.Literal):
        return node.value
    if isinstance(node, ast.Unary) and node.op == "-" and \
            isinstance(node.operand, ast.Literal):
        return -node.operand.value
    raise BloblangCompileError(f"{what} requires a literal argument")


# ---------------------------------------------------------------- compile

def compile_expr(node: ast.Node, scope: Scope) -> Column:
    out = _compile(node, scope)
    if out is _DELETED or out is _NOTHING:
        raise BloblangCompileError(
            "deleted()/nothing() only valid as an assignment value")
    return out


def _compile(node: ast.Node, scope: Scope):
    if isinstance(node, ast.Literal):
        return _lit(node.value)
    if isinstance(node, ast.ArrayLit):
        # deleted()/else-less-if items are omitted from array literals
        # (query_literal_parser.go — Nothing results are dropped);
        # compile them to null and compact
        cols, drop_any = [], False
        for i in node.items:
            c, dropped = _literal_item(i, scope)
            drop_any = drop_any or dropped
            cols.append(c)
        kinds = set()
        for i in node.items:
            _literal_value_types(i, scope, kinds)
        if len(kinds) > 1:
            # elements carry different Bloblang types: arrays are
            # dynamically typed, so array<VARIANT> — each element
            # keeps its own JSON type (no engine coercion)
            arr = F.array(*[_scalar_to_variant(c) for c in cols])
        else:
            arr = F.array(*cols)
        return F.array_compact(arr) if drop_any else arr
    if isinstance(node, ast.ObjectLit):
        if all(isinstance(k, ast.Literal) for k, _ in node.entries):
            # deleted()/else-less-if values compile to null; the JSON
            # serialization omits null fields, matching the
            # reference's Nothing-field omission
            fields = []
            for k, v in node.entries:
                c, _ = _literal_item(v, scope)
                fields.append(c.alias(str(k.value)))
            return F.struct(*fields)
        # dynamic keys (query_literal_parser.go:59 — key may be any
        # query): a MAP column. Spark maps need one value type, so
        # heterogenous values surface as an analysis error at build
        # time, never mid-job.
        pairs: list[Column] = []
        for k, v in node.entries:
            pairs.append(compile_expr(k, scope).cast("string"))
            pairs.append(compile_expr(v, scope))
        return F.create_map(*pairs)
    if isinstance(node, ast.Context):
        if node.path and node.path[0] in scope.named_bindings:
            return _dig(scope.named_bindings[node.path[0]], node.path[1:])
        return _resolve_this(scope, node.path)
    if isinstance(node, ast.RootRef):
        return _root_lookup(scope, node.path)
    if isinstance(node, ast.VarRef):
        if node.name not in scope.variables:
            raise BloblangCompileError(f"unknown variable ${node.name}")
        return scope.variables[node.name]
    if isinstance(node, ast.Unary):
        operand = compile_expr(node.operand, scope)
        return (~operand) if node.op == "!" else (-operand)
    if isinstance(node, ast.Binary):
        return _compile_binary(node, scope)
    if isinstance(node, ast.IfExpr):
        return _compile_if(node, scope)
    if isinstance(node, ast.MatchExpr):
        return _compile_match(node, scope)
    if isinstance(node, ast.FuncCall):
        return _compile_func(node, scope)
    if isinstance(node, ast.Method):
        return _compile_method(node, scope)
    if isinstance(node, ast.FieldAccess):
        target = compile_expr(node.target, scope)
        # schema-guarded: a field that falls off a KNOWN struct type
        # is null (gabs semantics), not an analysis error
        tdt = _node_dtype(node.target, scope)
        from pyspark.sql import types as T
        if isinstance(tdt, T.StructType) \
                and node.name not in {f.name for f in tdt.fields}:
            return F.lit(None)
        return _dig(target, [node.name])
    raise BloblangCompileError(f"cannot compile node {node!r}")


def _is_stringish(node: ast.Node) -> bool:
    if isinstance(node, ast.Literal):
        return isinstance(node.value, str)
    if isinstance(node, ast.Method):
        return node.name in ("string", "uppercase", "lowercase", "trim",
                             "capitalize", "reverse", "join", "format",
                             "replace", "re_replace", "encode", "decode",
                             "hash", "strip_html", "format_timestamp",
                             "format_timestamp_strftime")
    if isinstance(node, ast.Binary) and node.op == "+":
        return _is_stringish(node.left) or _is_stringish(node.right)
    return False


_ARRAYISH_METHODS = {"split", "re_find_all", "sort", "unique", "filter",
                     "map_each", "append", "flatten", "enumerated", "keys",
                     "values", "key_values", "range"}


def _is_arrayish(node: ast.Node) -> bool:
    if isinstance(node, ast.ArrayLit):
        return True
    if isinstance(node, ast.Method):
        return node.name in _ARRAYISH_METHODS
    if isinstance(node, ast.FuncCall):
        return node.name == "range"
    return False


def _type_class(dt) -> str | None:
    """Coarse Bloblang value class for equality dispatch."""
    from pyspark.sql import types as T
    if dt is None:
        return None
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, (T.LongType, T.IntegerType, T.DoubleType,
                       T.FloatType, T.DecimalType, T.ShortType,
                       T.ByteType)):
        return "number"
    return None


def _compile_binary(node: ast.Binary, scope: Scope) -> Column:
    op = node.op
    if op == "|":  # coalesce pipe (ArithmeticPipe)
        # deleted() | fallback → fallback (arithmetic.go: the pipe
        # recovers errors AND delete sentinels)
        lhs = _compile(node.left, scope.child(lenient=True))
        if lhs is _DELETED or lhs is _NOTHING:
            return compile_expr(node.right, scope)
        rhs = compile_expr(node.right, scope)
        lc, rc = _type_class(_node_dtype(node.left, scope)), \
            _type_class(_node_dtype(node.right, scope))
        if lc is not None and rc is not None and lc != rc:
            # mixed-type fallback → VARIANT (per-row dynamic type)
            return F.coalesce(_scalar_to_variant(lhs),
                              _scalar_to_variant(rhs))
        return F.coalesce(lhs, rhs)
    lhs = compile_expr(node.left, scope)
    if op in ("&&", "||"):
        # short-circuit (arithmetic.go): the right side's error
        # conditions only fire when the left side doesn't decide —
        # false && "nah".number() is false, not an error
        live = (lhs.cast("boolean") if op == "&&"
                else ~lhs.cast("boolean"))
        rhs = compile_expr(node.right, scope.child(guard=live))
        return (lhs & rhs) if op == "&&" else (lhs | rhs)
    rhs = compile_expr(node.right, scope)
    if op == "+":
        # arithmetic.go sumOp: `+` dispatches on the operand types —
        # string + string CONCATs, number + number adds, and a
        # string/number MIX is a TypeMismatch ERROR (IGetString /
        # IGetNumber never coerce across classes).  The syntactic
        # check catches literals/string-method chains; the schema
        # check catches plain paths whose frame dtype is already
        # string — `this.s + this.t` used to fall through to numeric
        # add and blow up in analysis (r7 fuzzer find #2).  r7 ADVICE:
        # the schema check used OR, so string-col + number compiled to
        # concat ('53') while the reference errors — now the concat
        # branch needs BOTH sides string-classed; a statically-certain
        # string/number mix errors like Go; an unknown-class side next
        # to a string side keeps the historical concat lenience
        # (dynamic documents dispatch at runtime in the interpreter).
        lc = _type_class(_node_dtype(node.left, scope))
        rc = _type_class(_node_dtype(node.right, scope))
        l_str = _is_stringish(node.left) or lc == "string"
        r_str = _is_stringish(node.right) or rc == "string"
        if (l_str and rc == "number" and not r_str) \
                or (r_str and lc == "number" and not l_str):
            types = ("string", "number") if l_str else ("number",
                                                        "string")
            msg = f"cannot add types {types[0]} and {types[1]}"
            if scope.lenient:
                return F.lit(None)
            if scope.has_error_channel():
                scope.add_error_cond(F.lit(True), F.lit(msg))
                return F.lit(None)
            return F.raise_error(F.lit(msg))
        if l_str or r_str:
            return F.concat(lhs.cast("string"), rhs.cast("string"))
        return lhs + rhs
    if op == "-":
        return lhs - rhs
    if op == "*":
        return lhs * rhs
    if op == "/":
        return lhs / rhs
    if op == "%":
        return lhs % rhs
    if op in ("==", "!="):
        # arithmetic.go:330 (ICompare): values of different types are
        # simply not equal (never a cast error), and null compares
        # equal only to null
        if (isinstance(node.left, ast.Literal)
                and node.left.value is None):
            base = rhs.isNull()
        elif (isinstance(node.right, ast.Literal)
                and node.right.value is None):
            base = lhs.isNull()
        else:
            lc = _type_class(_node_dtype(node.left, scope))
            rc = _type_class(_node_dtype(node.right, scope))
            if lc is not None and rc is not None and lc != rc \
                    and not (lc == "number" and rc == "number"):
                base = F.lit(False)
            else:
                base = lhs == rhs
        return base if op == "==" else ~base
    if op == ">":
        return lhs > rhs
    if op == "<":
        return lhs < rhs
    if op == ">=":
        return lhs >= rhs
    if op == "<=":
        return lhs <= rhs
    if op == "&&":
        return lhs & rhs
    if op == "||":
        return lhs | rhs
    raise BloblangCompileError(f"unknown operator {op}")


def _compile_if(node: ast.IfExpr, scope: Scope) -> Column:
    expr = None
    not_taken = None
    for cond, val in node.branches:
        c = compile_expr(cond, scope)
        live = c if not_taken is None else (not_taken & c)
        v = compile_expr(val, scope.child(guard=live))
        expr = F.when(c, v) if expr is None else expr.when(c, v)
        nc = ~c.cast("boolean")
        not_taken = nc if not_taken is None else (not_taken & nc)
    if node.otherwise is not None:
        expr = expr.otherwise(compile_expr(
            node.otherwise, scope.child(guard=not_taken)))
    return expr


def _compile_match(node: ast.MatchExpr, scope: Scope) -> Column:
    subject = compile_expr(node.subject, scope) if node.subject is not None \
        else None
    child = scope.child(this_override=subject) if subject is not None else scope
    expr = None
    default = None
    for pat, val in node.cases:
        v = compile_expr(val, child)
        if pat is None:
            default = v
            continue
        if isinstance(pat, ast.Literal) and subject is not None:
            cond = subject == _lit(pat.value)
        else:
            cond = compile_expr(pat, child)
        expr = F.when(cond, v) if expr is None else expr.when(cond, v)
    if expr is None:
        return default if default is not None else F.lit(None)
    return expr.otherwise(default) if default is not None else expr


# ---------------------------------------------------------------- functions

def _compile_func(node: ast.FuncCall, scope: Scope):
    name, args = node.name, node.args

    def arg_col(i):
        return compile_expr(args[i], scope)

    if name == "deleted":
        return _DELETED
    if name == "nothing":
        return _NOTHING
    if name == "content":
        return F.col("content")
    if name == "file":
        # functions.go `file(path)`: the reference re-reads per mapping
        # init; distributed executors must not each hit driver paths, so
        # the content is snapshotted at COMPILE time into a literal
        # (ships with the plan via broadcast — documented deviation)
        arg0 = args[0]
        if isinstance(arg0, ast.FuncCall) and arg0.name == "env":
            # file(env("X")): env resolves at compile time too
            import os
            fpath = os.environ.get(
                str(_lit_arg(arg0.args[0], "env var")), "")
        else:
            fpath = str(_lit_arg(arg0, "file path"))
        try:
            with open(fpath, encoding="utf-8") as fh:
                return F.lit(fh.read())
        except OSError as e:
            raise BloblangCompileError(f"file({fpath!r}): {e}") from e
    if name == "json":
        # json() reads the DOCUMENT absolutely — a lambda/match
        # rebinding of `this` must not shift it (functions.go json)
        base = scope
        if scope.this_override is not None:
            base = scope.child(lenient=scope.lenient)
            base.this_override = None
            base.override_dtype = None
        if not args:
            return _resolve_this(base, [])
        path = str(_lit_arg(args[0], "json path"))
        return _resolve_this(base, path.split("."))
    if name == "meta":
        if not args:
            return F.col(META_COL)
        key = str(_lit_arg(args[0], "meta key"))
        val = F.col(META_COL)[key]
        if scope.lenient:
            return val
        # functions.go meta: a missing key is a runtime error (recover
        # with .catch()/.or()) — error-flagged frames record it
        # per-row, relational frames raise
        if scope.has_error_channel():
            scope.add_error_cond(
                val.isNull(),
                F.lit(f"metadata value {key!r} not found"))
            return val
        return F.when(val.isNull(), F.raise_error(F.lit(
            f"metadata value {key!r} not found"))).otherwise(val)
    if name == "root_meta":
        return _compile_func(ast.FuncCall("meta", args), scope)
    if name == "error":
        # functions.go error: the flag is metadata — a missing key
        # reads as "" (never null)
        return F.coalesce(F.col(ERROR_COL), F.lit(""))
    if name == "errored":
        return F.col(ERROR_COL).isNotNull()
    if name == "uuid_v4":
        return F.expr("uuid()")
    if name == "now":
        return F.current_timestamp()
    if name == "timestamp_unix":
        return F.unix_timestamp(F.current_timestamp())
    if name == "timestamp_unix_nano":
        return F.unix_micros(F.current_timestamp()) * 1000
    if name == "hostname":
        import socket
        return F.lit(socket.gethostname())
    if name == "env":
        # functions.go env: unset variables resolve to "" (not null)
        import os
        return F.lit(os.environ.get(str(_lit_arg(args[0], "env var")),
                                    ""))
    if name == "random_int":
        seed = _lit_arg(args[0], "random_int seed") if args else 0
        return (F.rand(int(seed)) * (2 ** 31 - 1)).cast("long")
    if name == "range":
        start, stop = arg_col(0), arg_col(1)
        step = arg_col(2) if len(args) > 2 else F.lit(1)
        return F.filter(F.sequence(start, stop, step), lambda x: x != stop)
    if name == "throw":
        # under .catch() the thrown error is a VALUE (null → fallback)
        if scope.lenient:
            return F.lit(None)
        if scope.has_error_channel():
            scope.add_error_cond(F.lit(True), arg_col(0))
            return F.lit(None)
        return F.raise_error(arg_col(0))
    if name == "batch_index":
        return F.col("part_index")
    if name == "batch_size":
        from pyspark.sql.window import Window
        return F.count("*").over(Window.partitionBy("batch_id"))
    if name == "count":
        # count(name) (query/functions.go:200): a process-global named
        # counter incremented per call in arrival order.  Arrival order
        # doesn't exist on a distributed engine, so this compiles to a
        # deterministic ordinal over the pinned batch order instead:
        # row_number() over (batch_id, part_index).  Single-threaded
        # runs match the reference exactly; distributed runs are
        # deterministic but not arrival-ordered, and repeated
        # count(<name>) calls inside one mapping share the row's
        # ordinal rather than advancing per call (documented deviation,
        # SURVEY §7).  The window is intentionally unpartitioned — a
        # global counter is inherently serial; for scale-out ids use
        # uuid_v4()/batch_index(), for streaming use stateful_counter.
        # Requires the pinned-order columns (input batching policy or
        # split_batches); without them the plan fails to resolve
        # `batch_id`/`part_index` at build time.
        from pyspark.sql.window import Window
        return F.row_number().over(
            Window.orderBy("batch_id", "part_index")).cast("long")
    # --- deprecated v3 aliases (query/deprecated_functions.go) ---
    if name == "echo":
        return F.lit(str(_lit_arg(args[0], "echo")) if args else "")
    if name == "json_field":
        # json_field("path[,part]"): the part suffix indexes the batch,
        # meaningless row-wise — path-only form supported
        path = str(_lit_arg(args[0], "json_field path")) if args else ""
        return _resolve_this(scope, path.split(".") if path else [])
    if name in ("metadata", "root_metadata"):
        return _compile_func(ast.FuncCall("meta", args), scope)
    if name == "metadata_json_object":
        return F.to_json(F.col(META_COL))
    if name in ("timestamp", "timestamp_utc"):
        # deprecated now()-formatted-by-Go-layout (session TZ is UTC)
        from benthos_spark.functions import timestamps as ts_fns
        layout = (str(_lit_arg(args[0], "layout")) if args
                  else "Mon Jan 2 15:04:05 -0700 MST 2006")
        return ts_fns.format_timestamp(F.current_timestamp(), layout)
    if name == "var":
        # var("name") — quoted-name variable read (the $name sugar
        # only covers identifier-safe names; functions.go `var`)
        key = str(_lit_arg(args[0], "var name"))
        if key not in scope.variables:
            raise BloblangCompileError(
                f"var({key!r}): variable not defined")
        return scope.variables[key]
    raise BloblangCompileError(f"unknown function {name}()")


# ---------------------------------------------------------------- methods

def _pure_doc_path(node) -> list[str] | None:
    """this.a.b / json("a.b") / json().a.b → ["a","b"]; None when the
    node is anything but a plain document path."""
    if isinstance(node, ast.Context):
        return list(node.path) or None
    if isinstance(node, ast.FuncCall) and node.name == "json":
        if not node.args:
            return None
        if isinstance(node.args[0], ast.Literal):
            return str(node.args[0].value).split(".")
        return None
    if isinstance(node, ast.FieldAccess):
        base = _pure_doc_path(node.target)
        if base is None and isinstance(node.target, ast.FuncCall) \
                and node.target.name == "json" \
                and not node.target.args:
            base = []
        if base is None:
            return None
        return base + [node.name]
    return None


def _batch_index_map(target: Column, scope: Scope,
                     name: str) -> tuple[Column, Column]:
    """(part_index → value map, part count) of `target` across the
    whole batch.  collect_list drops bare nulls, so each value rides
    in a struct keyed by its part_index; an int-keyed map avoids
    sorting (map values may be unorderable types — maps, structs).
    One window over the batch key the frame already carries — no
    extra shuffle."""
    from pyspark.sql.window import Window
    if scope.df is None or "batch_id" not in scope.df.columns:
        raise BloblangCompileError(
            f".{name}(): needs the message shape (batch_id/"
            "part_index columns) — cross-part reads are windows "
            "over the batch key")
    w = Window.partitionBy("batch_id")
    m = F.map_from_entries(F.collect_list(
        F.struct(F.col("part_index").alias("i"),
                 target.alias("v"))).over(w))
    return m, F.count("*").over(w)


def _batch_values(target: Column, scope: Scope, name: str) -> Column:
    """Per-part values of `target` across the batch, in part order,
    nulls preserved."""
    m, n = _batch_index_map(target, scope, name)
    return F.transform(F.sequence(F.lit(0), (n - 1).cast("int")),
                       lambda j: m[j])


_MISSING_DT = object()


def _compile_method(node: ast.Method, scope: Scope) -> Column:
    import re as _re

    name, args = node.name, node.args
    if name == "apply":
        # bare `this.apply(m)` in row mode: there is no single document
        # Column — the named map resolves fields against the row
        if isinstance(node.target, ast.Context) and not node.target.path \
                and scope.this_override is None and scope.this_col is None:
            return _apply_named_map(
                str(_lit_arg(args[0], ".apply() map name")), None, scope)
        return _apply_named_map(
            str(_lit_arg(args[0], ".apply() map name")),
            compile_expr(node.target, scope), scope)
    if name in ("catch", "or", "exists", "from", "from_all"):
        # errors under a catch/or are VALUES (reference TryMethod),
        # and from/from_all recover per-part errors (ErrRecoverable):
        # compile the target leniently so raising helpers yield null,
        # which coalesce/recovery converts downstream
        scope = scope.child(lenient=True)
        if name in ("catch", "or") and args and (
                _is_deleted_call(node.target)
                or (isinstance(node.target, ast.FuncCall)
                    and node.target.name == "nothing")):
            # deleted().or(x) / nothing().catch(x) → x
            return compile_expr(args[0], scope)
    target = compile_expr(node.target, scope)

    def arg_col(i):
        return compile_expr(args[i], scope)

    def _err_or(cond, msg: str, value):
        """Reference runtime-error semantics: when `cond` holds the
        method errors per-message.  Under .catch()/.or() the error is
        a value (null → fallback); on an error-flagged frame it lands
        in the _error column (reference error-flag protocol,
        lib/processor/bloblang.go); otherwise raise_error (documented:
        fails the query — relational frames fail fast)."""
        if scope.lenient:
            return F.when(cond, F.lit(None)).otherwise(value)
        if scope.has_error_channel():
            scope.add_error_cond(cond, F.lit(f".{name}(): {msg}"))
            return F.when(cond, F.lit(None)).otherwise(value)
        return F.when(cond, F.raise_error(F.concat(
            F.lit(f".{name}(): "), F.lit(msg)))).otherwise(value)

    def arg_lit(i, what="argument"):
        return _lit_arg(args[i], f".{name}() {what}")

    def _elem_dt():
        from pyspark.sql import types as T
        tdt = _dtype(target, scope, node.target)
        return tdt.elementType if isinstance(tdt, T.ArrayType) else None

    def _pair_dt(names):
        from pyspark.sql import types as T
        et = _elem_dt()
        if et is None:
            return None
        return T.StructType([T.StructField(n, et) for n in names])

    def _kv_dt():
        from pyspark.sql import types as T
        tdt = _dtype(target, scope, node.target)
        if isinstance(tdt, T.MapType):
            return T.StructType([T.StructField("key", tdt.keyType),
                                 T.StructField("value",
                                               tdt.valueType)])
        if isinstance(tdt, T.StructType):
            vts = {f.dataType.simpleString() for f in tdt.fields}
            vt = (tdt.fields[0].dataType if len(vts) == 1 and tdt.fields
                  else T.StringType())
            return T.StructType([T.StructField("key", T.StringType()),
                                 T.StructField("value", vt)])
        return None

    def bind_elem(lnode, x, dtype=_MISSING_DT):
        """Compile a lambda-position argument against element `x`:
        `name -> body` binds the name (outer `this` stays visible);
        the bare form rebinds `this` to the element.  The bound
        value's dtype rides along so schema-dispatched methods keep
        working inside lambdas — pass `dtype` when x is NOT a plain
        element (e.g. the {left,right} pair of a sort comparator)."""
        bdt = _elem_dt() if dtype is _MISSING_DT else dtype
        if isinstance(lnode, ast.Lambda):
            named = dict(scope.named_bindings)
            named[lnode.param] = x
            ndt = dict(scope.named_dtypes)
            ndt[lnode.param] = bdt
            return compile_expr(lnode.body,
                                scope.child(named=named,
                                            named_dtypes=ndt,
                                            in_lambda=True))
        return compile_expr(lnode, scope.child(
            this_override=x, override_dtype=bdt,
            in_lambda=True))

    def lam1(i):
        """Element lambda for args[i] (either syntax form)."""
        def fn(x):
            return bind_elem(args[i], x)
        return fn

    def _variant_coalesce(fallback_node):
        """Bloblang values are dynamically typed: `x.catch("failed")`
        may yield a bool OR a string per row.  When the fallback
        literal's type differs from the target's compile-time type,
        coalesce as VARIANT (Spark's dynamic value type) so JSON
        serialization emits each row's true type.  Returns None when
        plain coalesce suffices."""
        import json as _json_mod

        from pyspark.sql import types as T
        if not isinstance(fallback_node, ast.Literal):
            return None
        fb = fallback_node.value
        dt = _dtype(target, scope, node.target)
        if dt is None:
            return None
        same = ((isinstance(fb, str) and isinstance(dt, T.StringType))
                or (isinstance(fb, bool) and isinstance(dt,
                                                        T.BooleanType))
                or (isinstance(fb, (int, float))
                    and not isinstance(fb, bool)
                    and isinstance(dt, (T.LongType, T.IntegerType,
                                        T.DoubleType, T.FloatType))))
        if same or not isinstance(dt, (T.BooleanType, T.LongType,
                                       T.IntegerType, T.DoubleType,
                                       T.FloatType)):
            return None
        return F.coalesce(
            F.parse_json(target.cast("string")),
            F.parse_json(F.lit(_json_mod.dumps(fb))))

    # --- general (methods.go) ---
    if name == "catch" and args and not _is_deleted_call(args[0]):
        # catch fires on ERRORS, not on legitimate nulls: a pure
        # document path that EXISTS with a null value passes through
        # (json("foo") on {"foo":null} → null, not the fallback) —
        # presence is checked against the raw content JSON
        path = _pure_doc_path(node.target)
        if path and scope.df is not None \
                and "content" in scope.df.columns \
                and scope.this_override is None:
            parent = (F.col("content") if len(path) == 1
                      else F.get_json_object(
                          F.col("content"),
                          "$." + ".".join(path[:-1])))
            present = F.coalesce(
                F.array_contains(F.json_object_keys(parent),
                                 path[-1]),
                F.lit(False))
            tgt, fb = target, arg_col(0)
            tc = _type_class(_node_dtype(node.target, scope))
            fc = _type_class(_node_dtype(args[0], scope))
            if tc is not None and fc is not None and tc != fc:
                tgt = _scalar_to_variant(tgt)
                fb = _scalar_to_variant(fb)
            return F.when(present, tgt).otherwise(fb)
    if name in ("or", "catch"):
        if name == "catch" and _is_deleted_call(args[0]):
            # .catch(deleted()): row-drop-on-error belongs to the
            # try/catch operator layer (plans/errors.py); expression
            # errors here surface as nulls, so a valid value passes
            # through unchanged
            return target
        vc = _variant_coalesce(args[0])
        if vc is not None:
            return vc
        tc = _type_class(_node_dtype(node.target, scope))
        fc = _type_class(_node_dtype(args[0], scope))
        if tc is not None and fc is not None and tc != fc:
            # per-row dynamic result type (string value OR bool
            # fallback …) → VARIANT coalesce
            return F.coalesce(_scalar_to_variant(target),
                              _scalar_to_variant(arg_col(0)))
        return F.coalesce(target, arg_col(0))
    if name == "not":
        # methods.go `not`: boolean negation of the target value
        return ~target.cast("boolean")
    if name == "not_null":
        return F.when(target.isNotNull(), target).otherwise(
            F.raise_error(F.lit("value is null")))
    if name == "type":
        # methods.go `type`: Bloblang value-type names, not engine types
        dt = _dtype(target, scope, node.target)
        tn = _bloblang_type_name(dt) if dt is not None else None
        if tn is not None and tn != "null":
            return F.when(target.isNull(), F.lit("null")) \
                    .otherwise(F.lit(tn))
        if tn == "null":
            return F.lit("null")
        return F.typeof(target)
    if name in ("get", "exists"):
        from pyspark.sql import types as T
        dt = _dtype(target, scope, node.target)
        if dt is None and _path_absent(node.target, scope):
            # the target path is PROVABLY absent from the schema
            # (e.g. schema inference dropped an all-empty object):
            # a static miss, not an analysis error
            return F.lit(False) if name == "exists" else F.lit(None)
        if not isinstance(args[0], ast.Literal):
            # dynamic path (methods.go:242 get example): struct targets
            # expand to a field-name CASE chain; maps use element_at
            key = arg_col(0)
            if isinstance(dt, T.StructType):
                uniform = len({f.dataType.simpleString()
                               for f in dt.fields}) <= 1
                out = F.lit(None)
                for f in dt.fields:
                    v = target[f.name] if uniform \
                        else target[f.name].cast("string")
                    out = F.when(key == F.lit(f.name), v).otherwise(out)
                return out.isNotNull() if name == "exists" else out
            got = F.element_at(target, key)
            return got.isNotNull() if name == "exists" else got
        path = str(arg_lit(0, "path")).split(".")
        # schema walk: a path that falls off the schema is a static
        # miss (exists=false / get=null), not an analysis error
        if isinstance(dt, T.StructType):
            cur = dt
            for seg in path:
                if isinstance(cur, T.StructType) and seg in \
                        {f.name for f in cur.fields}:
                    cur = cur[seg].dataType
                elif isinstance(cur, T.MapType):
                    cur = cur.valueType
                else:
                    return (F.lit(False) if name == "exists"
                            else F.lit(None))
        dug = _dig(target, path)
        return dug.isNotNull() if name == "exists" else dug
    if name in ("from", "from_all"):
        # .from(i) / .from_all() (query/methods.go): the target
        # evaluated against other parts of the batch.  Recoverable
        # per-part errors yield their recovered value — for the
        # metadata function that's "" (functions.go ErrRecoverable)
        t = target
        if isinstance(node.target, ast.FuncCall) \
                and node.target.name in ("meta", "metadata",
                                         "root_meta") \
                and node.target.args:
            t = F.coalesce(target, F.lit(""))
        if name == "from_all":
            return _batch_values(t, scope, name)
        m, n = _batch_index_map(t, scope, name)
        i = int(arg_lit(0, "part index"))
        pos = F.lit(i) if i >= 0 else (n + F.lit(i)).cast("int")
        res = m[pos]
        # an out-of-range index reads as an EMPTY PART
        # (lib/message Get): metadata → {}, error flag → "", not
        # errored; document functions stay null
        if isinstance(node.target, ast.FuncCall):
            tf = node.target.name
            if tf in ("meta", "metadata", "root_meta") \
                    and not node.target.args:
                res = F.coalesce(res, F.from_json(
                    F.lit("{}"), "map<string,string>"))
            elif tf == "error":
                res = F.coalesce(res, F.lit(""))
            elif tf == "errored":
                res = F.coalesce(res, F.lit(False))
            elif tf == "content":
                res = F.coalesce(res, F.lit(""))
        return res
    if name == "apply":
        return _apply_named_map(str(arg_lit(0, "map name")), target, scope)
    if name == "map":
        # query/methods.go map: apply the query arg with `this`
        # rebound to the target value
        mdt = _dtype(target, scope, node.target)
        return compile_expr(
            args[0].body if isinstance(args[0], ast.Lambda) else args[0],
            scope.child(this_override=target, override_dtype=mdt))
    # --- coercions ---
    if name == "number":
        # methods.go number: unparseable → error; optional default arg
        # recovers instead (strconv.ParseFloat semantics)
        cast = target.try_cast("double")
        if args:
            return F.coalesce(cast, arg_col(0).cast("double"))
        return _err_or(cast.isNull() & target.isNotNull(),
                       "expected number value", cast)
    if name == "bool":
        # methods.go bool: strconv.ParseBool semantics; optional
        # default arg recovers a failed parse
        cast = target.try_cast("boolean")
        if args:
            return F.coalesce(cast, arg_col(0).cast("boolean"))
        return _err_or(cast.isNull() & target.isNotNull(),
                       "expected bool value", cast)
    if name == "string":
        # structured values stringify as their JSON form
        # (methods_strings.go:1959), not engine struct syntax
        from pyspark.sql import types as T
        dt = _dtype(target, scope, node.target)
        if isinstance(dt, (T.StructType, T.ArrayType, T.MapType)):
            return F.to_json(target)
        if dt is None and isinstance(node.target, ast.Method) \
                and node.target.name in (
                    "explode", "parse_csv", "without", "merge",
                    "map_each", "filter", "key_values", "values",
                    "enumerated", "zip", "keys", "sort", "unique"):
            # structured-result methods with no static dtype still
            # stringify as JSON (methods_strings.go:1959)
            return F.to_json(target)
        return target.cast("string")
    if name == "bytes":
        return target.cast("binary")
    if name == "timestamp" or name == "ts_parse" or name == "parse_timestamp":
        if not args:
            return F.to_timestamp(target)
        parsed = ts_fns.parse_timestamp(target, str(arg_lit(0, "layout")))
        # methods_strings.go:1173: unparseable input is a runtime error
        return _err_or(parsed.isNull() & target.isNotNull(),
                       "cannot parse timestamp", parsed)
    # --- numbers (methods_numbers.go) ---
    if name == "abs":
        return F.abs(target)
    if name == "ceil":
        return F.ceil(target)
    if name == "floor":
        return F.floor(target)
    if name == "round":
        return F.round(target, int(arg_lit(0)) if args else 0)
    if name == "log":
        return F.log(target)  # natural log (methods.go `log`)
    if name == "log10":
        return F.log10(target)
    if name == "max":
        return F.array_max(target)
    if name == "min":
        return F.array_min(target)
    # --- strings (methods_strings.go) ---
    if name == "capitalize":
        # Go strings.Title parity — NOT initcap (see functions.strings)
        from benthos_spark.functions.strings import capitalize
        return capitalize(target)
    if name == "uppercase":
        return F.upper(target)
    if name == "lowercase":
        return F.lower(target)
    if name == "trim":
        # two-arg form: trim(str, trimChars) — Go's strings.Trim cutset
        return (F.trim(target, F.lit(str(arg_lit(0)))) if args
                else F.trim(target))
    if name == "has_prefix":
        return F.startswith(target, arg_col(0))
    if name == "has_suffix":
        return F.endswith(target, arg_col(0))
    if name == "contains":
        # string containment, array membership, or object-value
        # membership — dispatch by schema (methods_structured.go:190)
        from pyspark.sql import types as T
        dt = _dtype(target, scope, node.target)
        if isinstance(dt, T.ArrayType):
            return F.array_contains(target, arg_col(0))
        if isinstance(dt, T.MapType):
            return F.array_contains(F.map_values(target), arg_col(0))
        if isinstance(dt, T.StructType):
            return F.array_contains(
                F.map_values(_struct_as_map(target, dt)), arg_col(0))
        if isinstance(dt, T.StringType) or (
                isinstance(args[0], ast.Literal)
                and isinstance(args[0].value, str)):
            return F.contains(target, arg_col(0))
        return F.array_contains(target, arg_col(0))
    if name == "index_of":
        return F.instr(target, str(arg_lit(0, "substring"))) - 1
    if name == "reverse":
        return F.reverse(target)
    if name == "split":
        return F.split(target, _re.escape(str(arg_lit(0, "delimiter"))))
    if name == "join":
        # methods_structured.go join: array-of-strings only; other
        # shapes are per-message type errors → dynamic interpreter
        from pyspark.sql import types as T
        jdt = _dtype(target, scope, node.target)
        if jdt is not None and not isinstance(jdt, T.ArrayType):
            raise BloblangCompileError(".join(): expected array value")
        if isinstance(jdt, T.ArrayType) and not isinstance(
                jdt.elementType, T.StringType):
            raise BloblangCompileError(
                ".join(): string elements only")
        if jdt is None and isinstance(node.target, ast.ArrayLit) \
                and any(isinstance(it, ast.Literal)
                        and not isinstance(it.value, str)
                        for it in node.target.items):
            # mixed literal arrays: per-element type errors belong to
            # the dynamic interpreter
            raise BloblangCompileError(
                ".join(): string elements only")
        return F.array_join(target, str(arg_lit(0, "delimiter")) if args else "")
    if name == "replace":
        return F.replace(target, arg_col(0), arg_col(1))
    if name == "re_match":
        return target.rlike(_java_re(str(arg_lit(0, "pattern"))))
    if name == "re_find_all":
        return F.regexp_extract_all(
            target, F.lit(_java_re(str(arg_lit(0, "pattern")))), F.lit(0))
    if name == "re_replace":
        # Go replacement group syntax $1 == Java's; named $name needs
        # ${name} in Java — normalize
        import re as _rere
        repl = _rere.sub(r"\$([A-Za-z][A-Za-z0-9]*)", r"${\1}",
                         str(arg_lit(1, "replacement")))
        return F.regexp_replace(target, _java_re(str(arg_lit(0, "pattern"))),
                                repl)
    if name == "length":
        # strings AND arrays/objects share .length() in Bloblang; pick
        # by schema when known, else the array-ish shape heuristic
        from pyspark.sql import types as T
        dt = _dtype(target, scope, node.target)
        if isinstance(dt, (T.ArrayType, T.MapType)):
            return F.size(target)
        if isinstance(dt, T.StructType):
            return F.lit(len(dt.fields))
        if dt is None and _is_arrayish(node.target):
            return F.size(target)
        return F.length(target)
    if name == "size":
        return F.size(target)
    if name == "slice":
        # methods_structured.go slice: Go-style [lo, hi) with negative
        # from-the-end indexes, over strings and arrays alike
        from pyspark.sql import types as T
        lo = int(arg_lit(0))
        hi = int(arg_lit(1)) if len(args) > 1 else None
        dt = _dtype(target, scope, node.target)
        if dt is not None and not isinstance(
                dt, (T.ArrayType, T.StringType, T.BinaryType)):
            raise BloblangCompileError(
                ".slice(): expected array or string value")
        is_arr = (isinstance(dt, T.ArrayType) if dt is not None
                  else _is_arrayish(node.target))
        n = F.size(target) if is_arr else F.length(target)
        lo_c = F.lit(lo) if lo >= 0 else F.greatest(n + F.lit(lo),
                                                    F.lit(0))
        hi_c = (n if hi is None else
                (F.least(F.lit(hi), n) if hi >= 0
                 else F.greatest(n + F.lit(hi), F.lit(0))))
        cnt = F.greatest(hi_c - lo_c, F.lit(0))
        if is_arr:
            return F.slice(target, lo_c + F.lit(1), cnt)
        return F.substring(target, lo_c + F.lit(1), cnt)
    if name == "format":
        # target.format(args...) == Sprintf (methods_strings.go format):
        # the TARGET is the template; Go's generic %v maps to Java's %s
        tmpl = str(_lit_arg(node.target, ".format() template (target)"))
        return F.format_string(tmpl.replace("%v", "%s"),
                               *[arg_col(i) for i in range(len(args))])
    if name == "quote":
        j = F.to_json(F.struct(target.cast("string").alias("v")))
        return j.substr(F.lit(6), F.length(j) - 6)  # strip {"v": and }
    if name == "encode":
        codec = str(arg_lit(0, "codec"))
        # `.hash(alg).encode(...)`: reference hash yields raw bytes;
        # our hash builtins yield hex text (JVM builtins) — re-read the
        # hex so chained encodes match the reference byte-for-byte
        if isinstance(node.target, ast.Method) \
                and node.target.name == "hash" \
                and node.target.args \
                and isinstance(node.target.args[0], ast.Literal) \
                and (str(node.target.args[0].value).startswith(
                     ("sha", "md5", "hmac_"))):
            if codec == "hex":
                return target
            if codec == "base64":
                return F.translate(F.base64(F.unhex(target)), "\r\n", "")
        if codec == "base64":
            return F.translate(F.base64(target.cast("binary")), "\r\n", "")
        if codec == "base64url":
            # RFC 4648 §5 URL-safe alphabet, padding kept (Go's
            # base64.URLEncoding — methods_strings.go:119)
            return F.translate(
                F.translate(F.base64(target.cast("binary")),
                            "\r\n", ""), "+/", "-_")
        if codec == "hex":
            return F.lower(F.hex(target.cast("binary")))
        if codec == "ascii85":
            from benthos_spark.functions.strings import encode_ascii85
            return encode_ascii85(target)
        if codec == "z85":
            from benthos_spark.functions.strings import encode_z85
            return encode_z85(target)
        raise BloblangCompileError(f"encode codec {codec!r} unsupported")
    if name == "decode":
        codec = str(arg_lit(0, "codec"))
        if codec == "base64":
            return F.unbase64(target).cast("string")
        if codec == "base64url":
            return F.unbase64(
                F.translate(target, "-_", "+/")).cast("string")
        if codec == "hex":
            return F.unhex(target).cast("string")
        if codec == "ascii85":
            from benthos_spark.functions.strings import decode_ascii85
            return decode_ascii85(target)
        if codec == "z85":
            from benthos_spark.functions.strings import decode_z85
            return decode_z85(target)
        raise BloblangCompileError(f"decode codec {codec!r} unsupported")
    if name == "hash":
        alg = str(arg_lit(0, "algorithm"))
        if alg == "sha256":
            return F.sha2(target.cast("binary"), 256)
        if alg == "sha512":
            return F.sha2(target.cast("binary"), 512)
        if alg == "sha1":
            return F.sha1(target.cast("binary"))
        if alg == "md5":
            return F.md5(target.cast("binary"))
        if alg == "xxhash64":
            # canonical XXH64(seed=0) decimal string, the reference's
            # value (Spark's builtin is seed-42 over row serialization
            # — kept for internal scale keys, not user-visible hashes)
            from benthos_spark.functions.strings import hash_xxhash64_std
            return hash_xxhash64_std(target)
        if alg.startswith("hmac_"):
            # methods_strings.go:683 hmac variants take the key arg
            from benthos_spark.functions.strings import hash_hmac
            if len(args) < 2:
                raise BloblangCompileError(
                    f"hash({alg!r}) needs a key argument")
            return hash_hmac(target, alg, str(arg_lit(1, "hmac key")))
        raise BloblangCompileError(f"hash algorithm {alg!r} unsupported")
    if name == "strip_html":
        # optional preserve-list (methods_strings.go:1992): tags named
        # in the array arg survive, everything else is stripped
        if args:
            items = args[0].items if isinstance(args[0], ast.ArrayLit) \
                else [args[0]]
            keep = "|".join(_re.escape(str(_lit_arg(a, "tag")))
                            for a in items)
            return F.regexp_replace(
                target, rf"<(?!/?(?:{keep})\b)[^>]*>", "")
        return F.regexp_replace(target, r"<[^>]*>", "")
    if name == "escape_html":
        # methods_strings.go:432 (html.EscapeString): & first, then the
        # rest — order matters so entities aren't double-escaped
        out = F.replace(target, F.lit("&"), F.lit("&amp;"))
        for raw, ent in (("<", "&lt;"), (">", "&gt;"),
                         ('"', "&#34;"), ("'", "&#39;")):
            out = F.replace(out, F.lit(raw), F.lit(ent))
        return out
    if name == "unescape_html":
        out = target
        for ent, raw in (("&lt;", "<"), ("&gt;", ">"), ("&#34;", '"'),
                         ("&quot;", '"'), ("&#39;", "'"),
                         ("&apos;", "'"), ("&amp;", "&")):
            out = F.replace(out, F.lit(ent), F.lit(raw))
        return out
    if name == "escape_url_query":
        return F.url_encode(target)
    if name == "unescape_url_query":
        return F.url_decode(target)
    if name == "filepath_join":
        return F.array_join(target, "/")
    if name == "filepath_split":
        from benthos_spark.functions.strings import filepath_split
        return filepath_split(target)
    if name == "unquote":
        # methods_strings.go:1133 — JSON string literal → raw string.
        # from_json over a 1-element array wrapper runs the real JSON
        # parser (handles every escape); invalid input → null
        return F.from_json(
            F.concat(F.lit("["), target.cast("string"), F.lit("]")),
            "array<string>")[0]
    if name == "replace_many":
        # methods_strings.go:1040: flat [from,to, from,to, ...] pairs
        items = args[0].items if len(args) == 1 and \
            isinstance(args[0], ast.ArrayLit) else args
        pairs = [str(_lit_arg(a, ".replace_many() pair")) for a in items]
        if len(pairs) % 2:
            raise BloblangCompileError(
                ".replace_many() needs from/to pairs")
        out = target
        for i in range(0, len(pairs), 2):
            out = F.replace(out, F.lit(pairs[i]), F.lit(pairs[i + 1]))
        return out
    if name == "parse_duration":
        # methods.go parse_duration → integer nanoseconds (Go
        # time.ParseDuration grammar; negative sign on the whole value)
        pat = r"(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h)"
        vals = F.regexp_extract_all(target, F.lit(pat), F.lit(1))
        units = F.regexp_extract_all(target, F.lit(pat), F.lit(2))

        def unit_ns(u):
            return (F.when(u == "ns", 1.0).when(u == "us", 1e3)
                    .when(u == "µs", 1e3).when(u == "ms", 1e6)
                    .when(u == "s", 1e9).when(u == "m", 6e10)
                    .otherwise(3.6e12))
        total = F.aggregate(
            F.zip_with(vals, units,
                       lambda v, u: v.cast("double") * unit_ns(u)),
            F.lit(0.0), lambda acc, x: acc + x)
        return F.when(target.startswith("-"), -total) \
                .otherwise(total).cast("long")
    if name in ("encrypt_aes", "decrypt_aes"):
        # methods_strings.go:300/352.  cbc/gcm/ecb ride the JVM
        # builtin (codegen); the reference's ctr/ofb modes have no
        # Spark builtin and run through an Arrow-batched kernel over
        # the `cryptography` package (gated import).
        scheme = str(arg_lit(0, "scheme")).lower()
        if scheme in ("ctr", "ofb", "cbc"):
            # cbc matches the reference exactly: raw ciphertext (no IV
            # prefix, no PKCS7 padding; misaligned input errors) —
            # Spark's builtin CBC prepends a random IV and pads
            from benthos_spark.functions.strings import aes_stream_mode
            return aes_stream_mode(name, scheme, target,
                                   arg_col(1), arg_col(2))
        if scheme not in ("gcm", "ecb"):
            raise BloblangCompileError(
                f"{name} scheme {scheme!r}: supported modes are "
                "gcm|ecb (JVM builtin) and cbc|ctr|ofb (Python kernel)")
        key = arg_col(1).cast("binary")
        iv = arg_col(2).cast("binary") if len(args) > 2 else F.lit(b"")
        if name == "encrypt_aes":
            return F.aes_encrypt(target.cast("binary"), key,
                                 F.lit(scheme.upper()), F.lit("DEFAULT"),
                                 iv)
        return F.aes_decrypt(target.cast("binary"), key,
                             F.lit(scheme.upper())).cast("string")
    if name == "re_find_object":
        # named/indexed groups → struct with "0" = full match
        # (methods_strings.go:1716); Go `(?P<n>...)` and Java
        # `(?<n>...)` syntaxes both accepted
        pat = str(arg_lit(0, "pattern"))
        jpat = _java_re(pat)
        rx = _re.compile(_re.sub(r"\(\?<([A-Za-z][A-Za-z0-9]*)>",
                                 r"(?P<\1>", jpat))
        names = {i: nm for nm, i in rx.groupindex.items()}
        fields = [F.regexp_extract(target, jpat, i)
                  .alias(names.get(i, str(i)))
                  for i in range(rx.groups + 1)]
        return F.struct(*fields)
    if name == "re_find_all_object":
        pat = str(arg_lit(0, "pattern"))
        jpat = _java_re(pat)
        rx = _re.compile(_re.sub(r"\(\?<([A-Za-z][A-Za-z0-9]*)>",
                                 r"(?P<\1>", jpat))
        names = {i: nm for nm, i in rx.groupindex.items()}
        arrs = [F.regexp_extract_all(target, F.lit(jpat), F.lit(i))
                .alias(names.get(i, str(i)))
                for i in range(rx.groups + 1)]
        return F.arrays_zip(*arrs)
    if name == "re_find_all_submatch":
        pat = str(arg_lit(0, "pattern"))
        rx = _re.compile(pat)
        arrs = [F.regexp_extract_all(target, F.lit(pat), F.lit(i))
                .alias(f"g{i}") for i in range(rx.groups + 1)]
        zipped = F.arrays_zip(*arrs)
        ns = rx.groups
        return F.transform(
            zipped, lambda x: F.array(*[x[f"g{i}"]
                                        for i in range(ns + 1)]))
    if name == "parse_yaml":
        from benthos_spark.functions.strings import yaml_to_json
        j = yaml_to_json(target)
        # schemaless → VARIANT via the JSON bridge
        return F.from_json(j, str(arg_lit(0, "schema"))) if args \
            else F.parse_json(j)
    if name == "format_yaml":
        from benthos_spark.functions.strings import json_to_yaml
        return json_to_yaml(F.to_json(target))
    if name == "parse_json":
        if args:
            return F.from_json(target, str(arg_lit(0, "schema")))
        # schemaless → VARIANT (Spark's native schemaless value);
        # declare a schema for typed columns, or read paths with
        # variant_get/get_json_object
        return F.parse_json(target)
    if name == "parse_xml":
        if args:
            return F.from_xml(target, str(arg_lit(0, "schema")))
        # schemaless: mxj-rule JSON via the xml operator's kernel,
        # surfaced as VARIANT (Spark's schemaless value type)
        from benthos_spark.operators.parsing import xml_text_to_json_col
        return F.parse_json(xml_text_to_json_col(target))
    if name == "parse_csv":
        if args:
            return F.from_csv(target, str(arg_lit(0, "schema")))
        # schemaless (methods_strings.go:902): first row is the
        # header, rows become header-keyed objects.  Plain-split CSV
        # (no quoted-comma handling — declare a schema for full CSV
        # grammar via from_csv)
        lines = F.filter(F.split(target, "\n"),
                         lambda ln: F.length(ln) > 0)
        hdr = F.split(F.element_at(lines, 1), ",")
        # key-sorted entries so .string() marshals like Go (encoding/
        # json sorts map keys)
        return F.transform(
            F.slice(lines, 2, F.greatest(F.size(lines) - 1, F.lit(0))),
            lambda ln: F.map_from_entries(
                F.array_sort(F.arrays_zip(hdr, F.split(ln, ",")))))
    if name == "parse_timestamp_strptime":
        parsed = ts_fns.parse_timestamp_strptime(target, str(arg_lit(0)))
        return _err_or(parsed.isNull() & target.isNotNull(),
                       "cannot parse timestamp", parsed)
    if name == "parse_timestamp_unix":
        parsed = ts_fns.parse_timestamp_unix(
            target, str(arg_lit(0, "layout")) if args else None,
            dtype=_dtype(target, scope, node.target))
        return _err_or(parsed.isNull() & target.isNotNull(),
                       "cannot parse timestamp", parsed)
    if name == "format_timestamp":
        return ts_fns.format_timestamp(
            target, str(arg_lit(0, "layout")),
            str(arg_lit(1, "timezone")) if len(args) > 1 else None,
            dtype=_dtype(target, scope, node.target))
    if name == "format_timestamp_strftime":
        return ts_fns.format_timestamp_strftime(
            target, str(arg_lit(0)),
            str(arg_lit(1, "timezone")) if len(args) > 1 else None,
            dtype=_dtype(target, scope, node.target))
    if name == "format_timestamp_unix":
        return ts_fns.format_timestamp_unix(target,
                                            dtype=_dtype(target, scope, node.target))
    if name == "format_timestamp_unix_nano":
        return ts_fns.format_timestamp_unix_nano(
            target, dtype=_dtype(target, scope, node.target))
    # --- structured (methods_structured.go) ---
    if name == "all":
        # methods.go all: an empty array yields false (no element
        # satisfied the check), unlike SQL forall's vacuous truth
        return (F.size(target) > 0) & F.forall(target, lam1(0))
    if name == "any":
        return F.exists(target, lam1(0))
    if name == "append":
        return F.concat(target, F.array(*[arg_col(i) for i in range(len(args))]))
    if name == "enumerated":
        return F.transform(target, lambda x, i: F.struct(
            i.alias("index"), x.alias("value")))
    if name == "filter":
        # arrays: element predicate.  objects: the lambda receives
        # {key, value} pairs (methods_structured.go:375)
        from pyspark.sql import types as T
        dt = _dtype(target, scope, node.target)
        as_map = (_struct_as_map(target, dt)
                  if isinstance(dt, T.StructType) else target)
        if isinstance(dt, (T.MapType, T.StructType)):
            def pair_pred(k, v):
                pair = F.struct(k.alias("key"), v.alias("value"))
                return bind_elem(args[0], pair, dtype=_kv_dt())
            return F.map_filter(as_map, pair_pred)
        return F.filter(target, lam1(0))
    if name == "flatten":
        return F.flatten(target)
    if name == "fold":
        from pyspark.sql import types as T
        init = arg_col(0)
        dt = _dtype(target, scope, node.target)
        # aggregate() needs acc type == merge result type; coerce a
        # numeric literal init to the element type (3 + 0L is bigint)
        if isinstance(dt, T.ArrayType) and isinstance(args[0], ast.Literal) \
                and isinstance(args[0].value, (int, float)) \
                and not isinstance(args[0].value, bool) \
                and isinstance(dt.elementType,
                               (T.LongType, T.IntegerType, T.DoubleType,
                                T.FloatType)):
            init = init.cast(dt.elementType)

        def fold_fn(acc, x):
            item = F.struct(acc.alias("tally"), x.alias("value"))
            named = {"tally": acc, "value": x}
            if isinstance(args[1], ast.Lambda):
                named = {**named, args[1].param: item}
                body = args[1].body
            else:
                body = args[1]
            return compile_expr(body, scope.child(named=named,
                                                  in_lambda=True))
        return F.aggregate(target, init, fold_fn)
    if name == "index":
        from pyspark.sql import types as T
        i = int(arg_lit(0, "index"))
        dt = _dtype(target, scope, node.target)
        if isinstance(dt, T.BinaryType):
            # byte value at position (methods_structured.go:545 example
            # over .bytes()); hex-pair extraction keeps it codegen
            pos = (F.lit(i) if i >= 0
                   else F.length(target) + F.lit(i))
            return F.conv(F.substring(F.hex(target),
                                      pos * 2 + 1, 2), 16, 10) \
                    .cast("long")
        # methods_structured.go index: OOB is a runtime error (so
        # .catch() can recover); F.get is OOB-null (vs element_at's
        # job-level raise), composing with the error helper
        pos = F.lit(i) if i >= 0 else F.size(target) + F.lit(i)
        return _err_or(
            (pos < 0) | (pos >= F.size(target)),
            f"index {i} out of bounds", F.get(target, pos))
    if name in ("keys", "values", "key_values"):
        from pyspark.sql import types as T
        dt = _dtype(target, scope, node.target)
        if isinstance(dt, T.StructType):
            if name == "keys":
                return F.array(*[F.lit(f.name) for f in dt.fields])
            m = _struct_as_map(target, dt)
            return F.map_values(m) if name == "values" \
                else F.map_entries(m)
        return (F.map_keys(target) if name == "keys"
                else F.map_values(target) if name == "values"
                else F.map_entries(target))
    if name == "map_each":
        # arrays: per-element.  objects: lambda gets {key, value} and
        # maps the value (methods_structured.go:759/770)
        from pyspark.sql import types as T
        dt = _dtype(target, scope, node.target)
        as_map = (_struct_as_map(target, dt)
                  if isinstance(dt, T.StructType) else target)
        lam = args[0]
        body = lam.body if isinstance(lam, ast.Lambda) else lam
        if _is_deleted_call(body):
            # map_each(deleted()) drops every element/key, keeping the
            # container shape (methods_structured.go MapEach)
            if isinstance(dt, (T.MapType, T.StructType)):
                return F.map_filter(as_map, lambda k, v: F.lit(False))
            return F.filter(target, lambda x: F.lit(False))
        if isinstance(dt, (T.MapType, T.StructType)):
            obranches = _deleted_filter_branches(body)

            def pair_bind(expr_node):
                def fn(k, v):
                    pair = F.struct(k.alias("key"), v.alias("value"))
                    if isinstance(lam, ast.Lambda):
                        return bind_elem(
                            ast.Lambda(lam.param, expr_node), pair,
                            dtype=_kv_dt())
                    return bind_elem(expr_node, pair, dtype=_kv_dt())
                return fn
            if obranches is not None:
                keep_cond, value_expr = obranches
                kept = F.map_filter(as_map, pair_bind(keep_cond))
                return F.transform_values(kept, pair_bind(value_expr))

            def pair_val(k, v):
                pair = F.struct(k.alias("key"), v.alias("value"))
                return bind_elem(args[0], pair, dtype=_kv_dt())
            return F.transform_values(as_map, pair_val)
        # deleted() on an if/match branch inside the lambda (either
        # syntax form) means filter-then-map (methods_structured.go:759)
        branches = _deleted_filter_branches(body)
        if branches is not None:
            keep_cond, value_expr = branches

            def rebind(expr_node):
                if isinstance(lam, ast.Lambda):
                    return lambda x: bind_elem(
                        ast.Lambda(lam.param, expr_node), x)
                return lambda x: bind_elem(expr_node, x)
            kept = F.filter(target, rebind(keep_cond))
            return F.transform(kept, rebind(value_expr))
        return F.transform(target, lam1(0))
    if name == "map_each_key":
        from pyspark.sql import types as T
        dt = _dtype(target, scope, node.target)
        as_map = (_struct_as_map(target, dt)
                  if isinstance(dt, T.StructType) else target)
        return F.transform_keys(
            as_map, lambda k, _v: bind_elem(args[0], k))
    if name == "merge":
        from pyspark.sql import types as T
        other = arg_col(0)
        dt, do = _dtype(target, scope, node.target), _dtype(other, scope, args[0])
        if isinstance(dt, T.StructType) and isinstance(do, T.StructType):
            # static struct merge: collisions become arrays
            # (methods_structured.go:900 — append semantics); fields
            # sorted by name like Go's map marshalling
            fields = {}
            rnames = {f.name for f in do.fields}
            for f in dt.fields:
                if f.name in rnames:
                    fields[f.name] = F.array(target[f.name],
                                             other[f.name])
                else:
                    fields[f.name] = target[f.name]
            for f in do.fields:
                if f.name not in fields:
                    fields[f.name] = other[f.name]
            return F.struct(*[fields[n].alias(n)
                              for n in sorted(fields)])
        if isinstance(dt, T.ArrayType):
            # array merge appends (methods_structured.go merge:
            # target array + value, or element-wise concat)
            if isinstance(do, T.ArrayType):
                return F.concat(target, other)
            return F.concat(target, F.array(other))
        return F.map_concat(
            F.map_filter(target,
                         lambda k, _: ~F.array_contains(F.map_keys(other), k)),
            other)
    if name == "not_empty":
        from pyspark.sql import types as T
        dt = _dtype(target, scope, node.target)
        if isinstance(dt, T.StringType):
            return F.when(F.length(target) > 0, target).otherwise(
                F.raise_error(F.lit("string value is empty")))
        if isinstance(dt, T.StructType):
            return target if dt.fields else F.raise_error(
                F.lit("object value is empty"))
        return F.when(F.size(target) > 0, target).otherwise(
            F.raise_error(F.lit("value is empty")))
    if name == "sort":
        if args:
            # comparator form: lambda param binds {left, right}
            # (methods_structured.go:1018)
            def cmp(left, right):
                def bound(le, ri):
                    pair = F.struct(le.alias("left"), ri.alias("right"))
                    return bind_elem(args[0], pair,
                                     dtype=_pair_dt(("left", "right")))
                lt = bound(left, right)
                gt = bound(right, left)
                return (F.when(lt, F.lit(-1))
                        .when(gt, F.lit(1)).otherwise(F.lit(0)))
            return F.array_sort(target, cmp)
        return F.sort_array(target)
    if name == "sort_by":
        # methods_structured.go sort_by: key-extracting comparator
        def cmp(left, right):
            kl = bind_elem(args[0], left)
            kr = bind_elem(args[0], right)
            return (F.when(kl < kr, F.lit(-1))
                    .when(kl > kr, F.lit(1)).otherwise(F.lit(0)))
        return F.array_sort(target, cmp)
    if name == "explode":
        # methods_structured.go explode(path): one element of the
        # array/object at `path` per output entry, rest of the
        # document duplicated
        from pyspark.sql import types as T
        path = str(arg_lit(0, "path"))
        inner = _dig(target, path.split("."))
        idt = _dtype(inner, scope)
        tdt = _dtype(target, scope, node.target)
        if isinstance(tdt, T.StructType):
            leaf = _walk_schema(tdt, path.split("."))
            if not isinstance(leaf, (T.StructType, T.ArrayType,
                                     T.MapType)):
                # reference: expected array or object value at path —
                # a per-message runtime error (dynamic interpreter)
                raise BloblangCompileError(
                    f".explode(): expected array or object value "
                    f"at path {path!r}")
        if isinstance(idt, T.StructType):
            # object explode (methods_structured.go:321): one output
            # field per key, each the doc with `path` swapped for that
            # key's value — static struct-of-structs
            return F.struct(*[
                target.withField(path, inner[f.name]).alias(f.name)
                for f in idt.fields])
        return F.transform(inner, lambda x: target.withField(path, x))
    if name == "json_schema":
        # methods_structured.go:592: pass the value through when it
        # validates, error otherwise.  Validation runs in an Arrow
        # kernel (jsonschema has no JVM builtin); the error path uses
        # raise_error to match the reference's failed-assignment
        # semantics.  The operator form (error-column protocol) is
        # operators.parsing.jsonschema_validate.
        import json as _json_mod

        from pyspark.sql import types as T

        schema = _json_mod.loads(str(arg_lit(0, "schema")))
        as_json = (target if isinstance(_dtype(target, scope, node.target),
                                        T.StringType)
                   else F.to_json(target))
        err_col = _jsonschema_error_kernel(as_json, schema)
        return F.when(err_col.isNull(), target).otherwise(
            F.raise_error(F.concat(F.lit("json_schema: "), err_col)))
    if name == "sum":
        return F.aggregate(target, F.lit(0.0),
                           lambda acc, x: acc + x.cast("double"))
    if name == "unique":
        # methods_structured.go unique: elements must be strings or
        # numbers — containers are a runtime type error, non-arrays an
        # outer type error; both route to the dynamic interpreter
        # (per-message error semantics) via compile failure
        from pyspark.sql import types as T
        dt = _dtype(target, scope, node.target)
        if dt is not None and not isinstance(dt, T.ArrayType):
            raise BloblangCompileError(
                ".unique(): expected array value")
        if isinstance(dt, T.ArrayType) and isinstance(
                dt.elementType, (T.ArrayType, T.MapType, T.StructType,
                                 T.VariantType)):
            raise BloblangCompileError(
                ".unique(): string/number elements only")
        return F.array_distinct(target)
    if name == "without":
        # invalid paths (missing keys, non-object parents) are
        # ignored, matching gabs delete semantics (methods_structured
        # .go without)
        from pyspark.sql import types as T
        dt = _dtype(target, scope, node.target)
        paths = [str(_lit_arg(a, "field")) for a in args]
        if isinstance(dt, T.StructType):
            def _parent_is_struct(p):
                cur = dt
                for s in p.split(".")[:-1]:
                    if not isinstance(cur, T.StructType):
                        return False
                    f = next((f for f in cur.fields if f.name == s),
                             None)
                    if f is None:
                        return False
                    cur = f.dataType
                return isinstance(cur, T.StructType)
            paths = [p for p in paths if _parent_is_struct(p)]
            if not paths:
                return target
        return target.dropFields(*paths)
    if name == "collapse":
        # methods_structured.go:156: flatten to dot-keyed (array
        # indexes included) map of leaf values.  Compile-time schema
        # recursion; leaf values keep their own types via VARIANT
        # (the reference keeps original types).  Null leaves and
        # schema-inference-stringified empties ("{}"/"[]") are skipped
        # — the reference's default skips empty objects/arrays the
        # same way.  include_empty=true routes through the dynamic-
        # document interpreter (mapping_needs_dynamic).
        from pyspark.sql import types as T
        dt = _dtype(target, scope, node.target)
        if not isinstance(dt, T.StructType):
            raise BloblangCompileError(
                ".collapse(): needs an object-typed target with a "
                "known schema (schema-on-read)")
        if args and bool(_lit_arg(args[0], "include_empty")):
            raise BloblangCompileError(
                ".collapse(true): include_empty keeps heterogeneous "
                "empty values — content-doctrine frames route to the "
                "dynamic-document interpreter; not expressible over "
                "a typed frame")

        def leaf_value(col, t):
            v = _scalar_to_variant(col)
            if isinstance(t, T.StringType):
                # schema inference stringifies type-conflicted empty
                # objects/arrays; default collapse skips them
                return F.when(~col.isin("{}", "[]"), v)
            return v

        def walk(col, t, prefix):
            if isinstance(t, T.StructType):
                out = []
                for f in t.fields:
                    out += walk(col[f.name], f.dataType,
                                prefix + [F.lit(f.name)])
                return out
            if isinstance(t, T.ArrayType):
                et = t.elementType
                if isinstance(et, T.StructType):
                    def field_entries(f):
                        # 2-arg lambda (HOF arity contract) closing
                        # over the field
                        return lambda x, i: F.struct(
                            F.concat_ws(
                                ".", *(prefix + [i.cast("string"),
                                                 F.lit(f.name)]))
                            .alias("key"),
                            leaf_value(x[f.name], f.dataType)
                            .alias("value"))
                    arrs = []
                    for f in et.fields:
                        if isinstance(f.dataType, (T.StructType,
                                                   T.ArrayType,
                                                   T.MapType)):
                            continue  # one nesting level under arrays
                        arrs.append(F.transform(col, field_entries(f)))
                    return arrs
                return [F.transform(
                    col, lambda x, i: F.struct(
                        F.concat_ws(".", *(prefix + [i.cast("string")]))
                        .alias("key"),
                        leaf_value(x, et).alias("value")))]
            return [F.array(F.struct(
                F.concat_ws(".", *prefix).alias("key"),
                leaf_value(col, t).alias("value")))]

        pieces = walk(target, dt, [])
        if not pieces:
            return F.map_from_entries(F.array())
        entries = F.concat(*pieces) if len(pieces) > 1 else pieces[0]
        # default collapse skips empty objects/arrays and nulls
        # (leaf_value already nulled stringified empties)
        return F.map_from_entries(
            F.filter(entries, lambda e: e["value"].isNotNull()))
    raise BloblangCompileError(f"unknown method .{name}()")


def _apply_named_map(name: str, target: Column | None,
                     scope: Scope) -> Column:
    """`.apply("name")` (methods.go:13): inline-expand the named map
    with `this` bound to the target.  The reference interprets with a
    10000-deep recursion cap (mapping/executor.go:241-248); static
    inlining cannot express recursion, so self-application errors
    (documented deviation)."""
    if name not in scope.maps:
        raise BloblangCompileError(f".apply({name!r}): map not defined")
    if name in scope.applying:
        raise BloblangCompileError(
            f"map {name!r} is recursive; static compilation cannot "
            "express recursion (reference caps at 10000 — documented "
            "deviation, SURVEY §2.1.1)")
    sub = Scope(this_col=None, root_fields={}, maps=scope.maps,
                applying=scope.applying | {name},
                this_override=target, df=scope.df)
    whole: Column | None = None
    for stmt in scope.maps[name]:
        if isinstance(stmt, ast.LetAssign):
            sub.variables[stmt.name] = compile_expr(stmt.value, sub)
            sub.var_dtypes[stmt.name] = (
                _dtype(sub.variables[stmt.name], sub, stmt.value)
                or _dtype(sub.variables[stmt.name], sub))
        elif isinstance(stmt, ast.RootAssign):
            is_delete = (isinstance(stmt.value, ast.FuncCall)
                         and stmt.value.name == "deleted")
            value = (None if is_delete
                     else compile_expr(stmt.value, sub))
            if not stmt.path:
                if is_delete:
                    raise BloblangCompileError(
                        f"map {name!r}: whole-root deleted() inside a "
                        "named map is not supported")
                whole = value
            else:
                from pyspark.sql import types as T
                tree = sub.root_fields
                for seg in stmt.path[:-1]:
                    nxt = tree.setdefault(seg, {})
                    if isinstance(nxt, Column):
                        # assigning/deleting under an existing struct
                        # column: expand its fields into a mutable
                        # subtree via the known schema
                        dt = _dtype(nxt, sub)
                        if not isinstance(dt, T.StructType):
                            raise BloblangCompileError(
                                f"map {name!r}: cannot assign under "
                                f"non-object field {seg!r}")
                        nxt = {f.name: nxt[f.name] for f in dt.fields}
                        tree[seg] = nxt
                    tree = nxt
                if is_delete:
                    tree.pop(stmt.path[-1], None)
                else:
                    tree[stmt.path[-1]] = value
        else:
            raise BloblangCompileError(
                f"map {name!r}: only root/let statements supported inside "
                "named maps")
    if whole is not None:
        return whole
    if not sub.root_fields:
        raise BloblangCompileError(f"map {name!r} assigns nothing")
    return _tree_to_struct(sub.root_fields)


# ---------------------------------------------------------------- executor

class MappingExec:
    """A compiled mapping: callable DataFrame → DataFrame.

    Output columns = top-level root fields (nested assignments become
    struct columns).  `root = this` starts from the identity projection.
    Rows deleted via `root = deleted()` branches are filtered out.
    """

    def __init__(self, mapping: ast.Mapping, src: str = ""):
        self.mapping = mapping
        self.src = src

    def apply(self, df: DataFrame, this: Column | None = None,
              keep: tuple[str, ...] = ()) -> DataFrame:
        """``keep``: input columns passed through unchanged (e.g. batch
        bookkeeping) unless the mapping assigns the same name."""
        scope = Scope(this_col=this, root_fields={}, df=df)
        for stmt in self.mapping.statements:  # maps usable before def site
            if isinstance(stmt, ast.MapDef):
                scope.maps[stmt.name] = stmt.statements
        meta_updates: list[tuple[str | None, Column]] = []
        drop_cond: Column | None = None
        identity_base = False

        for stmt in self.mapping.statements:
            if isinstance(stmt, ast.MapDef):
                scope.maps[stmt.name] = stmt.statements
                continue
            if isinstance(stmt, ast.LetAssign):
                scope.variables[stmt.name] = compile_expr(stmt.value, scope)
                # one analysis per `let` at most (memoized): variables
                # feed later schema dispatch
                scope.var_dtypes[stmt.name] = (
                    _dtype(scope.variables[stmt.name], scope, stmt.value)
                    or _dtype(scope.variables[stmt.name], scope))
            elif isinstance(stmt, ast.MetaAssign):
                # deleted() compiles to None (key removal / meta wipe,
                # mapping/assignment.go:71)
                if (isinstance(stmt.value, ast.FuncCall)
                        and stmt.value.name == "deleted"):
                    meta_updates.append((stmt.key, None))
                else:
                    meta_updates.append(
                        (stmt.key, compile_expr(stmt.value, scope)))
            elif isinstance(stmt, ast.RootAssign):
                drop_here, value = self._root_value(stmt, scope, df, this)
                if drop_here is not None:
                    drop_cond = drop_here if drop_cond is None \
                        else (drop_cond | drop_here)
                if value is None:
                    continue
                if not stmt.path:
                    if isinstance(value, str) and value == "__identity__":
                        identity_base = True
                        scope.root_fields.clear()
                        tdt = _this_dtype(scope)
                        if tdt is not None and hasattr(tdt, "fields"):
                            # document mode: identity = the parsed
                            # document's fields, not the frame columns
                            for f in tdt.fields:
                                scope.root_fields[f.name] = \
                                    this[f.name]
                        else:
                            for c in df.columns:
                                scope.root_fields[c] = F.col(c)
                    else:
                        # whole-document `root = <expr>`: expand when
                        # the expression is struct-typed at compile
                        # time (fields become the output columns —
                        # mapping/executor.go whole-root object
                        # assignment); non-object roots stay a
                        # documented deviation of the row model
                        from pyspark.sql import types as T
                        dt = _dtype(value, scope) \
                            if isinstance(value, Column) else None
                        if isinstance(dt, T.StructType):
                            scope.root_fields.clear()
                            for f in dt.fields:
                                scope.root_fields[f.name] = value[f.name]
                        elif dt is not None:
                            # scalar/array root: single `root` column
                            # (serialization layers emit it as the
                            # whole document body)
                            scope.root_fields.clear()
                            scope.root_fields["__root__"] = value
                        else:
                            raise BloblangCompileError(
                                "whole-document `root = <expr>` supports "
                                "`this` (identity) and typed "
                                "expressions; assign fields explicitly "
                                "when the root type can't be inferred")
                else:
                    tree = scope.root_fields
                    for i, seg in enumerate(stmt.path[:-1]):
                        nxt = tree.setdefault(seg, {})
                        if isinstance(nxt, Column):
                            # assigning under an existing struct column
                            # (identity base): expand its fields into a
                            # mutable subtree via the known schema
                            from pyspark.sql import types as T
                            dt = _dtype(nxt, scope)
                            if isinstance(dt, T.StructType):
                                nxt = {f.name: nxt[f.name]
                                       for f in dt.fields}
                                tree[seg] = nxt
                            else:
                                raise BloblangCompileError(
                                    f"root.{'.'.join(stmt.path)} under "
                                    "a non-object")
                        tree = nxt
                    if value is _DELETED_FIELD:
                        tree.pop(stmt.path[-1], None)
                    else:
                        tree[stmt.path[-1]] = value
            else:  # pragma: no cover
                raise BloblangCompileError(f"unknown statement {stmt!r}")

        keep_names = [k for k in keep
                      if k in df.columns and k not in scope.root_fields]
        # message shape: meta assignments update the meta MAP in place
        # (set / per-key delete / whole replace / whole wipe —
        # mapping/assignment.go:71); row mode without a meta column
        # keeps the meta_<key> rider-column contract
        meta_final: Column | None = None
        if meta_updates and "meta" in keep_names:
            def key_neq(key):
                return lambda k, _v: k != F.lit(key)

            meta_final = F.col("meta")
            for key, val in meta_updates:
                if key is None and val is None:
                    meta_final = F.create_map().cast(
                        "map<string,string>")
                elif key is None:
                    meta_final = F.from_json(
                        F.to_json(val), "map<string,string>")
                elif val is None:
                    meta_final = F.map_filter(meta_final, key_neq(key))
                else:
                    meta_final = F.map_concat(
                        F.map_filter(meta_final, key_neq(key)),
                        F.create_map(F.lit(key), val.cast("string")))
        # error-flag protocol: strict-method failure conditions become
        # per-row _error values (first failure wins, existing flag
        # preserved) — lib/processor/bloblang.go error semantics.  The
        # flag ALWAYS propagates when conditions exist (errors must
        # not vanish), even if the caller didn't ask to keep it.
        err_final: Column | None = None
        if scope.error_conds and ERROR_COL in df.columns \
                and ERROR_COL not in keep_names \
                and ERROR_COL not in scope.root_fields:
            keep_names.append(ERROR_COL)
        if scope.error_conds and ERROR_COL in keep_names:
            err_final = F.col(ERROR_COL)
            for cond, msgc in scope.error_conds:
                err_final = F.coalesce(
                    err_final, F.when(cond, msgc.cast("string")))
        cols = []
        for k in keep_names:
            if k == "meta" and meta_final is not None:
                cols.append(meta_final.alias("meta"))
            elif k == ERROR_COL and err_final is not None:
                cols.append(err_final.alias(ERROR_COL))
            else:
                cols.append(F.col(k))
        for name, val in scope.root_fields.items():
            col = _tree_to_struct(val) if isinstance(val, dict) else val
            cols.append(col.alias(name))
        if not scope.root_fields and not meta_updates:
            raise BloblangCompileError("mapping assigns no root fields")
        if meta_updates and meta_final is None:
            for key, val in meta_updates:
                if val is not None:
                    cols.append(val.cast("string")
                                .alias(f"meta_{key or 'root'}"))
        _ = identity_base
        if drop_cond is not None:
            # project FIRST, then filter: assignments (incl. cross-part
            # windows like .from_all()) see the whole batch before any
            # deleted() rows leave it — the reference evaluates every
            # statement against the full batch too
            keep_col = ~F.coalesce(drop_cond, F.lit(False))
            return (df.select(*cols, keep_col.alias("__bl_keep__"))
                      .filter(F.col("__bl_keep__"))
                      .drop("__bl_keep__"))
        return df.select(*cols)

    def _root_value(self, stmt: ast.RootAssign, scope: Scope,
                    df: DataFrame, this: Column | None):
        """Returns (drop_condition_or_None, value).  value may be the
        _DELETED_FIELD sentinel (field removal), '__identity__', or a
        Column; None value means statement fully handled (pure delete)."""
        node = stmt.value
        if isinstance(node, ast.FuncCall) and node.name == "deleted":
            if not stmt.path:
                return F.lit(True), None
            return None, _DELETED_FIELD
        if isinstance(node, ast.Context) and not node.path and not stmt.path:
            return None, "__identity__"
        if isinstance(node, ast.MatchExpr) and node.subject is None \
                and not stmt.path \
                and any(_is_deleted_call(v) for _, v in node.cases):
            # `root = match { cond => deleted() }` — the bare-match
            # filter form; rewrite to the equivalent if-chain
            node = ast.IfExpr(
                [(c if c is not None else ast.Literal(True), v)
                 for c, v in node.cases], None)
        if isinstance(node, ast.IfExpr) and not stmt.path:
            # if cond { deleted() } else { this } — filter pattern
            drop = None
            keep_identity = False
            for cond, val in node.branches:
                if isinstance(val, ast.FuncCall) and val.name == "deleted":
                    c = compile_expr(cond, scope)
                    drop = c if drop is None else (drop | c)
                elif isinstance(val, ast.Context) and not val.path:
                    keep_identity = True
                else:
                    raise BloblangCompileError(
                        "whole-root if supports deleted()/this branches in v1")
            ow = node.otherwise
            if ow is not None:
                if isinstance(ow, ast.FuncCall) and ow.name == "deleted":
                    raise BloblangCompileError(
                        "unconditional otherwise-delete: invert the condition")
                if isinstance(ow, ast.Context) and not ow.path:
                    keep_identity = True
            # no-else if yields nothing for non-matching rows → assignment
            # skipped (mapping/executor.go:177-180); identity only when a
            # branch explicitly assigns `this`
            return drop, ("__identity__" if keep_identity else None)
        # nothing() in if-branches: keep previous value of the target
        if isinstance(node, ast.IfExpr) and stmt.path:
            prior: Column | None
            try:
                prior = _root_lookup(scope, stmt.path)
            except BloblangCompileError:
                prior = F.lit(None)
            expr = None
            for cond, val in node.branches:
                c = compile_expr(cond, scope)
                if isinstance(val, ast.FuncCall) and val.name == "nothing":
                    v = prior
                else:
                    v = compile_expr(val, scope)
                expr = F.when(c, v) if expr is None else expr.when(c, v)
            ow = node.otherwise
            if ow is None:
                expr = expr.otherwise(prior)
            elif isinstance(ow, ast.FuncCall) and ow.name == "nothing":
                expr = expr.otherwise(prior)
            else:
                expr = expr.otherwise(compile_expr(ow, scope))
            return None, expr
        return None, compile_expr(node, scope)


_DELETED_FIELD = object()


def compile_mapping(src: str, base_dir: str = ".") -> MappingExec:
    """Parse + compile a Bloblang mapping (ParseMapping,
    mapping_parser.go:21 → one Spark projection). `base_dir` resolves
    `import "file.blobl"` paths."""
    return MappingExec(parse_mapping(src, base_dir=base_dir), src)


def _walk_ast(node):
    """Yield every AST node reachable from `node` (fields, lists,
    branch tuples)."""
    import dataclasses

    yield node
    if dataclasses.is_dataclass(node):
        for f in dataclasses.fields(node):
            v = getattr(node, f.name)
            for item in (v if isinstance(v, (list, tuple)) else [v]):
                if isinstance(item, tuple):
                    for sub in item:
                        if isinstance(sub, ast.Node):
                            yield from _walk_ast(sub)
                elif isinstance(item, ast.Node):
                    yield from _walk_ast(item)


def mapping_is_recursive(mapping: ast.Mapping) -> bool:
    """True when the mapping's named-map `.apply` graph has a cycle —
    static inlining can't express it; the dynamic-document interpreter
    (interp.DynamicMapping) can.  Reference caps interpretation at
    10000 frames (mapping/executor.go:241-248)."""
    defs = {s.name: s.statements for s in mapping.statements
            if isinstance(s, ast.MapDef)}

    def applied(stmts) -> set:
        out = set()
        for st in stmts:
            for n in _walk_ast(st):
                if (isinstance(n, ast.Method) and n.name == "apply"
                        and n.args
                        and isinstance(n.args[0], ast.Literal)):
                    out.add(str(n.args[0].value))
        return out

    graph = {k: applied(v) & set(defs) for k, v in defs.items()}
    seen_done: set = set()

    def cyclic(name, stack) -> bool:
        if name in stack:
            return True
        if name in seen_done:
            return False
        stack.add(name)
        hit = any(cyclic(n, stack) for n in graph.get(name, ()))
        stack.discard(name)
        seen_done.add(name)
        return hit

    return any(cyclic(n, set()) for n in graph)


class InterpFallbackWarning(UserWarning):
    """A Bloblang mapping routed to the per-document interpreter
    (map_dynamic) instead of the columnar codegen path.  Fine for v3
    legacy configs; a silent 100 TB foot-gun if a HOT mapping falls
    back unnoticed — the interpreter is Arrow-batched Python, not
    whole-stage codegen.  The warning (and the matching counter in
    INTERP_FALLBACK_COUNTS, keyed by the forcing construct) names what
    to rewrite."""


# compile-time telemetry: reason → count of mappings that forced the
# dynamic interpreter.  Exported via stream metrics as
# `interp_fallback{reason=...}` so a production pipeline can alert on
# hot-path fallbacks (VERDICT r4 ask #6).
from collections import Counter as _Counter

INTERP_FALLBACK_COUNTS: "_Counter[str]" = _Counter()


def _note_dynamic_fallback(reason: str, warn: bool = True) -> None:
    import warnings
    INTERP_FALLBACK_COUNTS[reason] += 1
    if warn:
        warnings.warn(
            f"bloblang mapping falls back to the per-document "
            f"interpreter (Arrow-batched Python, not codegen): {reason}. "
            f"On a hot path, rewrite the forcing construct to keep the "
            f"columnar plan.", InterpFallbackWarning, stacklevel=3)


def dynamic_reason(mapping: ast.Mapping) -> str | None:
    """The construct that forces the dynamic-document interpreter, or
    None when the mapping compiles columnar: recursive named maps,
    `collapse(true)` (heterogeneous empty values in one map), and
    `map_each_key` with nothing()-passthrough keys (keys aren't static
    columns)."""
    if mapping_is_recursive(mapping):
        return "recursive named maps (.apply cycle)"
    for st in mapping.statements:
        for n in _walk_ast(st):
            if not isinstance(n, ast.Method):
                continue
            if (n.name == "collapse" and n.args
                    and isinstance(n.args[0], ast.Literal)
                    and n.args[0].value is True):
                return "collapse(true)"
            if n.name == "map_each_key" and n.args:
                lam = n.args[0]
                body = lam.body if isinstance(lam, ast.Lambda) else lam
                if (isinstance(body, ast.IfExpr)
                        and body.otherwise is None):
                    return "map_each_key with nothing()-passthrough keys"
                if any(isinstance(x, ast.FuncCall) and x.name == "nothing"
                       for x in _walk_ast(body)):
                    return "map_each_key with nothing()-passthrough keys"
    return None


def mapping_needs_dynamic(mapping: ast.Mapping) -> bool:
    """True when the mapping uses constructs only the dynamic-document
    interpreter expresses faithfully — see dynamic_reason."""
    return dynamic_reason(mapping) is not None


def map_dynamic(df: DataFrame, src: str,
                base_dir: str = ".") -> DataFrame:
    """Content-doctrine fallback executor: interpret the mapping
    per-document in an Arrow-batched kernel.  Used when the mapping is
    not statically compilable (recursive named maps).  The frame must
    carry a `content` column; `meta` rides along when present.  On a
    runtime evaluation error the part keeps its content and the
    `_error` column is set when available (error-flag protocol,
    lib/processor/bloblang.go)."""
    from benthos_spark.bloblang.interp import (DynamicMapping,
                                               EvalError,
                                               uses_batch_context)
    from benthos_spark.bloblang.parser import parse_mapping as _pm

    parsed = _pm(src, base_dir=base_dir)
    dyn = DynamicMapping(parsed)
    schema = df.schema
    has_meta = "meta" in df.columns
    has_err = "_error" in df.columns

    if uses_batch_context(parsed) and "batch_id" in df.columns \
            and "part_index" in df.columns:
        # cross-part reads (.from/.from_all/batch_index/batch_size):
        # co-locate whole batches — one applyInPandas group per
        # batch_id, parts ordered by part_index (the same shuffle the
        # static window compilation pays)
        def grouped(pdf):
            import pandas as pd
            pdf = pdf.sort_values("part_index").reset_index(drop=True)
            batch = [{"content": pdf["content"].iloc[i],
                      "meta": (dict(pdf["meta"].iloc[i] or {})
                               if has_meta else {}),
                      "error": (pdf["_error"].iloc[i]
                                if has_err else None)}
                     for i in range(len(pdf))]
            keep, contents, metas, errs = [], [], [], []
            for i, p in enumerate(batch):
                err = None
                try:
                    out_c, out_m = dyn.run_one(
                        p["content"], p["meta"], error=p["error"],
                        batch=batch, part_index=i)
                except Exception as exc:  # noqa: BLE001
                    out_c, out_m, err = (p["content"], p["meta"],
                                         str(exc) or repr(exc))
                if out_c is None:
                    continue
                keep.append(i)
                contents.append(out_c)
                metas.append({str(k): str(v) for k, v in out_m.items()})
                errs.append(err)
            out = pdf.iloc[keep].copy()
            if keep:
                out["content"] = contents
                if has_meta:
                    out["meta"] = metas
                if has_err:
                    out["_error"] = [e if e is not None else old
                                     for e, old in zip(errs,
                                                       out["_error"])]
            return out

        return df.groupBy("batch_id").applyInPandas(grouped,
                                                    schema=schema)

    def op(batches):
        for pdf in batches:
            keep, contents, metas, errs = [], [], [], []
            for i in range(len(pdf)):
                c = pdf["content"].iloc[i]
                m = (dict(pdf["meta"].iloc[i] or {})
                     if has_meta else {})
                err = None
                try:
                    out_c, out_m = dyn.run_one(
                        c, m, error=(pdf["_error"].iloc[i]
                                     if has_err else None))
                except Exception as exc:  # noqa: BLE001 — reference
                    # contract: ANY per-message evaluation error flags
                    # the message and passes the original through
                    # (lib/processor/bloblang.go), it never fails the
                    # task
                    out_c, out_m, err = c, m, str(exc) or repr(exc)
                if out_c is None:
                    continue  # root = deleted()
                keep.append(i)
                contents.append(out_c)
                metas.append({str(k): str(v) for k, v in out_m.items()})
                errs.append(err)
            out = pdf.iloc[keep].copy()
            if keep:  # empty assignment would retype map columns
                out["content"] = contents
                if has_meta:
                    out["meta"] = metas
                if has_err:
                    out["_error"] = [
                        e if e is not None else old
                        for e, old in zip(errs, out["_error"])]
            yield out

    return df.mapInPandas(op, schema=schema)


def is_pure_message(df: DataFrame) -> bool:
    """True when the frame is message-doctrine shaped: the document is
    the `content` column and everything else is batch bookkeeping."""
    return "content" in df.columns and all(
        c in ("content", "meta", "batch_id", "part_index", "_error")
        for c in df.columns)


def check_dynamic(df: DataFrame, src: str) -> Column:
    """Boolean Column for a Bloblang check over a message-shaped frame:
    each row's `content` is the document (`this`), `meta`/`_error` ride
    along.  Arrow-batched; errors resolve to False
    (lib/condition/bloblang.go)."""
    from pyspark.sql.functions import pandas_udf

    from benthos_spark.bloblang.interp import DynamicCheck
    from benthos_spark.bloblang.parser import parse_query

    chk = DynamicCheck(parse_query(src))
    has_meta = "meta" in df.columns
    has_err = "_error" in df.columns
    cols = [F.col("content")]
    cols.append(F.col("meta") if has_meta
                else F.create_map().cast("map<string,string>"))
    cols.append(F.col("_error") if has_err
                else F.lit(None).cast("string"))

    def _check(content, meta, err):
        import pandas as pd
        return pd.Series([
            chk.run_one(c, dict(m or {}), error=e)
            for c, m, e in zip(content, meta, err)],
            dtype="boolean")

    _check.__annotations__ = {}
    return pandas_udf(_check, "boolean")(*cols)


def map_text(df: DataFrame, src: str, this: Column | None = None,
             base_dir: str = ".", keep: tuple[str, ...] = ()) -> DataFrame:
    """One-shot: apply a Bloblang mapping to a DataFrame.

    Row mode (this=None): `this.foo` reads column `foo`.
    Document mode: pass `this=F.from_json(F.col('content'), schema)`.
    Recursive named maps route through the dynamic-document
    interpreter when the frame is content-doctrine shaped.
    """
    mapping = parse_mapping(src, base_dir=base_dir)
    pure_message = this is None and is_pure_message(df)
    reason = dynamic_reason(mapping) if "content" in df.columns else None
    if "content" in df.columns and (pure_message or reason is not None):
        # a pure message-doctrine frame has no row model: `this` is the
        # parsed content, root rewrites content, meta is the map column
        # (mapping/executor.go MapPart) — the dynamic interpreter is
        # the only faithful path.  Frames mixing content with extracted
        # typed columns keep the columnar fast path below.
        if reason is not None:
            # a mapping-forced fallback is the one worth warning about;
            # the pure message doctrine is the frame's normal v3 shape
            _note_dynamic_fallback(reason)
        else:
            _note_dynamic_fallback("pure message-doctrine frame",
                                   warn=False)
        return map_dynamic(df, src, base_dir=base_dir)
    try:
        return MappingExec(mapping, src).apply(df, this=this, keep=keep)
    except Exception as e:  # noqa: BLE001
        # Columnar compile/analysis failure on a message-shaped frame →
        # the dynamic-document interpreter (Arrow-batched mapInPandas)
        # runs the mapping per document, matching the reference's
        # per-message dynamic typing.  Relational frames (no `content`
        # column) keep the hard error: silent fallback there would hide
        # mapping bugs against typed tables.
        from pyspark.errors import AnalysisException
        if "content" in df.columns \
                and isinstance(e, (BloblangCompileError,
                                   AnalysisException)):
            # (`this` provided or not: on message-shaped frames the
            # document IS the content, so the interpreter sees the
            # same values)
            _note_dynamic_fallback(
                f"columnar compile failure: {type(e).__name__}: {e}")
            return map_dynamic(df, src, base_dir=base_dir)
        raise
