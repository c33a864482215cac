"""Cypher expression -> Spark Column compiler.

Carries the cross-type semantics catalogued in SURVEY §1.2/§2.8 (reference:
``community/cypher/runtime-util/src/main/java/org/neo4j/cypher/operations/CypherMath.java``,
``CypherFunctions.java``):

- ternary (Kleene) logic: Spark's AND/OR/NOT already propagate null the same way
- ``+`` overloading: string concat, list concat/append, numeric add
- ``/`` between two integers is integer division; ``^`` always returns float
- list indexing is 0-based with negative wrap (vs Spark's 1-based element_at)
- ``=~`` is a FULL-string regex match (Java ``matches()``), not a search
- node/relationship equality compares identity (ids), not payload
"""

from __future__ import annotations

from typing import Any, Callable, Dict, Optional

from pyspark.sql import Column, DataFrame, functions as F, types as T

from . import ast as A

AGG_FNS = {
    "count", "sum", "avg", "mean", "min", "max", "collect", "stdev", "stdevp",
    "percentilecont", "percentiledisc", "percentiles",
}

NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
    T.DoubleType, T.DecimalType,
)
INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

_NO_UNIFY = object()  # sentinel: the two types cannot be unified


def _unify_types(a, b):
    """Least common Spark type of two static types under null-widening,
    numeric widening, and field-wise struct/array recursion — or
    ``_NO_UNIFY`` when the values belong to different Cypher value
    classes (those need the tagged heterogeneous encoding)."""
    if a is _NO_UNIFY or b is _NO_UNIFY:
        return _NO_UNIFY
    if a is None or isinstance(a, T.NullType):
        return b
    if b is None or isinstance(b, T.NullType):
        return a
    if a == b:
        return a
    frac = (T.FloatType, T.DoubleType, T.DecimalType)
    if isinstance(a, (*INT_TYPES, *frac)) and isinstance(b, (*INT_TYPES, *frac)):
        if isinstance(a, frac) or isinstance(b, frac):
            return T.DoubleType()
        return T.LongType()
    if isinstance(a, T.StructType) and isinstance(b, T.StructType) \
            and a.fieldNames() == b.fieldNames():
        fs = []
        for fa, fb in zip(a.fields, b.fields):
            u = _unify_types(fa.dataType, fb.dataType)
            if u is _NO_UNIFY:
                return _NO_UNIFY
            fs.append(T.StructField(fa.name, u if u is not None
                                    else T.NullType()))
        return T.StructType(fs)
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        u = _unify_types(a.elementType, b.elementType)
        if u is _NO_UNIFY:
            return _NO_UNIFY
        return T.ArrayType(u if u is not None else T.NullType())
    return _NO_UNIFY

DUR_FIELDS = frozenset({"months", "days", "seconds", "nanos"})


def _is_duration(t) -> bool:
    return isinstance(t, T.StructType) and set(t.fieldNames()) == set(DUR_FIELDS)


def _is_temporal(t) -> bool:
    return isinstance(t, (T.DateType, T.TimestampType, T.TimestampNTZType))


def _is_zoned_dt(t) -> bool:
    """Named-zone ZonedDateTime struct {instant: timestamp, tz: string}
    (reference DateTimeValue keeps a ZoneId next to the instant,
    values/storable/DateTimeValue.java; plain offsets stay plain
    TimestampType instants)."""
    return (isinstance(t, T.StructType)
            and set(t.fieldNames()) == {"instant", "tz"})


def _zoned_wall(c: Column) -> Column:
    """Wall-clock (NTZ) time of a zoned struct in its own zone."""
    return F.from_utc_timestamp(c.getField("instant"), c.getField("tz"))


def _zone_offset_str(c: Column) -> Column:
    """'+HH:MM' / 'Z' offset of the zone at the struct's instant
    (session tz is pinned to UTC, so NTZ wall - instant = the offset)."""
    osec = ((F.unix_micros(_zoned_wall(c).cast("timestamp"))
             - F.unix_micros(c.getField("instant"))) / 1_000_000) \
        .cast("long")
    a = F.abs(osec)
    txt = F.format_string(
        "%s%02d:%02d",
        F.when(osec < 0, F.lit("-")).otherwise(F.lit("+")),
        F.floor(a / 3600).cast("int"), (F.floor(a / 60) % 60).cast("int"))
    return F.when(osec == 0, F.lit("Z")).otherwise(txt)


def zoned_dt_to_string(c: Column) -> Column:
    """'2024-03-31T01:30+02:00[Europe/Paris]' (DateTimeValue.toString).
    Input let-bound (read ~6x through wall/offset/zone pieces)."""
    from ..functions.let import let
    from ..functions.registry import _datetime_to_string

    def body(c):
        tz = c.getField("tz")
        # pure-offset zones ('+02:00', 'Z') render without the [zone]
        # bracket (DateTimeValue.toString: only named ZoneIds bracketed)
        is_offset = tz.startswith("+") | tz.startswith("-") | (tz == "Z") \
            | (tz == "z")
        return F.concat(
            _datetime_to_string(_zoned_wall(c), with_offset=False),
            _zone_offset_str(c),
            F.when(is_offset, F.lit("")).otherwise(
                F.concat(F.lit("["), tz, F.lit("]"))))

    return let(c, body)


def _dur_map2(lc: Column, rc, fn) -> Column:
    """Fieldwise combine of two duration structs (rc=None -> unary).
    Operands let-bound (each read 4x; computed durations would inline)."""
    from ..functions.let import let, let2

    def body(lb, rb):
        return F.struct(*[
            fn(lb.getField(f), rb.getField(f) if rb is not None else None)
            .cast("long").alias(f)
            for f in ("months", "days", "seconds", "nanos")])

    if rc is None:
        return let(lc, lambda lb: body(lb, None))
    return let2(lc, rc, body)


def _dur_approximate(months: Column, days: Column, seconds: Column,
                     nanos: Column) -> Column:
    """DurationValue.approximate (DurationValue.java:853): truncate each
    double component toward zero, carrying the fraction into the next
    smaller unit with AVG_NANOS_PER_MONTH = 2_629_746e9.

    Each carry stage is let-bound: the inlined chain duplicated every
    prior stage ~3x (months appears 81x inside nanos), and a consumer
    like toString multiplied it again — duration('PT1H') * 2.5 spent
    ~2 minutes in Catalyst on the inlined form, milliseconds on this."""
    from ..functions.let import let

    def with_m(m):
        def with_d(d):
            def with_s(s):
                def with_n(n):
                    return F.struct(
                        m.cast("long").alias("months"),
                        d.cast("long").alias("days"),
                        s.cast("long").alias("seconds"),
                        n.cast("long").alias("nanos"))

                return let(nanos + (s - s.cast("long")) * 1e9, with_n)

            return let(seconds + (d - d.cast("long")) * 86_400.0, with_s)

        return let(days + (m - m.cast("long")) * (2_629_746.0 / 86_400.0),
                   with_d)

    return let(months, with_m)


def _dur_scale(col: Column, factor: Column) -> Column:
    """duration * number / duration ÷ number (DurationValue.mul/div)."""
    f = factor.cast("double")
    return _dur_approximate(col.getField("months") * f,
                            col.getField("days") * f,
                            col.getField("seconds") * f,
                            col.getField("nanos") * f)

def _py_to_col(v) -> Column:
    """Client value -> Column (Input operator, LP:2389): maps become
    structs, lists of containers become typed arrays, scalars F.lit."""
    if isinstance(v, dict):
        return F.struct(*[_py_to_col(x).alias(k) for k, x in v.items()])
    if isinstance(v, (list, tuple)):
        if any(isinstance(x, (dict, list, tuple)) for x in v):
            return F.array(*[_py_to_col(x) for x in v])
        return F.lit(list(v))
    return F.lit(v)


def compile_label_tree(tree, labels_col: Column, type_col: Column = None
                       ) -> Column:
    """Boolean Column for a full label-expression algebra tree
    (CypherParser.g4 labelExpression) over a node's labels array — or,
    when ``type_col`` is given, over a relationship's single type."""
    k = tree[0]
    if k == "label":
        if type_col is not None:
            return type_col == F.lit(tree[1])
        return F.array_contains(labels_col, tree[1])
    if k == "any":
        if type_col is not None:
            return type_col.isNotNull()
        # '%': the internal '_none' no-label shard marker doesn't count
        return F.size(F.array_remove(labels_col, "_none")) > 0
    if k == "not":
        return ~compile_label_tree(tree[1], labels_col, type_col)
    if k == "and":
        return (compile_label_tree(tree[1], labels_col, type_col)
                & compile_label_tree(tree[2], labels_col, type_col))
    if k == "or":
        return (compile_label_tree(tree[1], labels_col, type_col)
                | compile_label_tree(tree[2], labels_col, type_col))
    raise CypherTypeError(f"unknown label expression node {k}")


def _type_conforms(t, name: str) -> bool:
    """Does Spark type ``t`` conform to the Cypher type ``name`` (IS ::)?"""
    if name in ("ANY", "PROPERTY VALUE"):
        return True
    if name == "NOTHING":
        return False
    if t is None:
        return False  # unknown static type: conservative false
    struct_fields = set(t.fieldNames()) if isinstance(t, T.StructType) else set()
    checks = {
        "INTEGER": lambda: isinstance(t, INT_TYPES),
        "INT": lambda: isinstance(t, INT_TYPES),
        "FLOAT": lambda: isinstance(t, (T.FloatType, T.DoubleType)),
        "STRING": lambda: isinstance(t, T.StringType),
        "VARCHAR": lambda: isinstance(t, T.StringType),
        "BOOLEAN": lambda: isinstance(t, T.BooleanType),
        "BOOL": lambda: isinstance(t, T.BooleanType),
        "DATE": lambda: isinstance(t, T.DateType),
        "DATETIME": lambda: isinstance(t, T.TimestampType),
        "ZONED DATETIME": lambda: isinstance(t, T.TimestampType),
        "LOCAL DATETIME": lambda: isinstance(t, T.TimestampNTZType),
        "TIMESTAMP WITHOUT TIME ZONE":
            lambda: isinstance(t, T.TimestampNTZType),
        "DURATION": lambda: _is_duration(t),
        "LIST": lambda: isinstance(t, T.ArrayType),
        "ARRAY": lambda: isinstance(t, T.ArrayType),
        "MAP": lambda: isinstance(t, (T.MapType, T.StructType)),
        "POINT": lambda: {"crs", "x", "y"} <= struct_fields,
        "NODE": lambda: {"_id", "_labels"} <= struct_fields,
        "VERTEX": lambda: {"_id", "_labels"} <= struct_fields,
        "RELATIONSHIP": lambda: {"_src", "_dst", "_type"} <= struct_fields,
        "EDGE": lambda: {"_src", "_dst", "_type"} <= struct_fields,
        "PATH": lambda: {"_nodes", "_rels"} <= struct_fields,
        "NULL": lambda: isinstance(t, T.NullType),
    }
    fn = checks.get(name)
    if fn is None:
        raise CypherTypeError(f"unknown type name in IS :: {name}")
    return fn()


TEMPORAL_FIELDS = {
    "year": F.year, "month": F.month, "day": F.dayofmonth, "hour": F.hour,
    "minute": F.minute, "second": F.second,
    "week": F.weekofyear, "quarter": F.quarter,
    # ISO-8601 day numbering (TemporalValue: Monday=1..Sunday=7); Spark's
    # dayofweek() is Sunday=1-based, weekday() is Monday=0-based
    "dayofweek": lambda c: F.weekday(c) + 1, "ordinalday": F.dayofyear,
    # remaining TemporalFields (TemporalValue.java:515-531)
    "dayofquarter": lambda c: F.datediff(
        c.cast("date"), F.trunc(c.cast("date"), "quarter")) + 1,
    "millisecond": lambda c: F.floor(
        F.pmod(F.unix_micros(c.cast("timestamp")), 1_000_000) / 1000),
    "microsecond": lambda c: F.pmod(
        F.unix_micros(c.cast("timestamp")), 1_000_000),
    "nanosecond": lambda c: F.pmod(
        F.unix_micros(c.cast("timestamp")), 1_000_000) * 1000,
    # ISO week-based year = calendar year of that week's Thursday
    "weekyear": lambda c: F.year(
        F.date_add(c.cast("date"), 3 - F.weekday(c.cast("date")))),
}


class CypherTypeError(ValueError):
    pass


class ExprCompiler:
    """Compiles expression AST against a DataFrame (for schema resolution).

    ``kinds`` maps variable name -> 'node' | 'rel' | 'path' | 'scalar' | 'rellist'.
    ``locals`` maps lambda-bound variables to Columns (list comprehensions etc.).
    """

    def __init__(
        self,
        df: Optional[DataFrame],
        kinds: Dict[str, str],
        params: Dict[str, Any],
        translator=None,
    ) -> None:
        self.df = df
        self.kinds = kinds
        self.params = params
        self.translator = translator
        self.locals: Dict[str, Column] = {}
        self._local_types: Dict[str, T.DataType] = {}
        # null-is-false context: set while compiling a WHERE predicate,
        # where UNDEFINED and FALSE are indistinguishable (both drop the
        # row).  Lets NaN-aware comparisons emit the parquet-PUSHABLE
        # conjunct form instead of a CASE WHEN no source can push.
        # Propagates through AND/OR only (they preserve the equivalence);
        # NOT/XOR/function args reset it.
        self._nif = False

    # ---- type resolution -------------------------------------------------

    def dtype_of(self, col: Column) -> Optional[T.DataType]:
        if self.locals:
            # inside a lambda scope: the column may reference a lambda var,
            # which can never resolve against the frame (and the attempt
            # logs a JVM-side analysis error) — rely on _local_types instead
            return None
        try:
            if self.df is not None:
                return self.df.select(col.alias("_t")).schema[0].dataType
            # no rowstream yet (e.g. RETURN 1+1): resolve against empty frame
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            return spark.range(1).select(col.alias("_t")).schema[0].dataType
        except Exception:
            return None

    def static_type(self, e: A.Expr) -> Optional[T.DataType]:
        """Cheap static type for literals and lambda locals; falls back to
        schema resolution."""
        if isinstance(e, A.Var) and e.name in self._local_types:
            # lambda-scoped vars (reduce acc, comprehension element) can't
            # resolve against the frame — their declared type drives
            # operator overloading (e.g. + concatenates string accumulators)
            return self._local_types[e.name]
        if isinstance(e, A.Lit):
            v = e.value
            if isinstance(v, bool):
                return T.BooleanType()
            if isinstance(v, int):
                return T.LongType()
            if isinstance(v, float):
                return T.DoubleType()
            if isinstance(v, str):
                return T.StringType()
            if v is None:
                return T.NullType()
        # structural inference that stays valid inside lambda scopes,
        # where dtype_of cannot resolve (a group array indexed by a
        # comprehension variable still has a statically known element
        # type: ``all(i IN ... WHERE a[i].h > u.h)``)
        if (isinstance(e, A.Var) and e.name not in self.locals
                and self.df is not None and e.name in self.df.columns):
            return self.df.schema[e.name].dataType
        if isinstance(e, A.Index):
            ts = self.static_type(e.subject)
            if isinstance(ts, T.ArrayType):
                ti = self.static_type(e.index)
                if not isinstance(ti, T.StringType):
                    return ts.elementType
            if isinstance(ts, T.MapType):
                return ts.valueType
        if isinstance(e, A.Prop):
            ts = self.static_type(e.subject)
            if isinstance(ts, T.StructType) and e.key in ts.fieldNames():
                return ts[e.key].dataType
        return None

    # ---- entry -----------------------------------------------------------

    _NIF_OPS = frozenset(("AND", "OR", "<", "<=", ">", ">=", "="))

    def compile(self, e: A.Expr) -> Column:
        m = getattr(self, f"_c_{type(e).__name__}", None)
        if m is None:
            raise CypherTypeError(f"unsupported expression {type(e).__name__}")
        nif = self._nif
        if nif and not (isinstance(e, A.BinOp) and e.op in self._NIF_OPS):
            # anything but an AND/OR/comparison conjunct leaves the
            # null-is-false filter context ('<>' excluded: NOT of a
            # false-for-NaN equality would flip a dropped row to kept)
            self._nif = False
        try:
            return m(e)
        finally:
            self._nif = nif

    def compile_typed(self, e: A.Expr):
        c = self.compile(e)
        t = self.static_type(e) or self.dtype_of(c)
        return c, t

    # ---- leaves ----------------------------------------------------------

    def _c_Lit(self, e: A.Lit) -> Column:
        return F.lit(e.value)

    def _c_Param(self, e: A.Param) -> Column:
        if e.name not in self.params:
            raise CypherTypeError(f"missing parameter ${e.name}")
        return _py_to_col(self.params[e.name])

    def _c_Var(self, e: A.Var) -> Column:
        if e.name in self.locals:
            return self.locals[e.name]
        if self.df is not None and e.name in self.df.columns:
            return F.col(e.name)
        # Cypher 5 float keyword literals, case-insensitive (literals
        # NaN/Inf/Infinity in expressions/Literal.scala); a same-named
        # bound variable above takes precedence
        kw = e.name.lower()
        if kw in ("inf", "infinity"):
            return F.lit(float("inf"))
        if kw == "nan":
            return F.lit(float("nan"))
        raise CypherTypeError(f"variable `{e.name}` not defined")

    def _c_CountStar(self, e) -> Column:  # handled by aggregation planner
        return F.count(F.lit(1))

    # ---- property access -------------------------------------------------

    def _c_Prop(self, e: A.Prop) -> Column:
        subj = self.compile(e.subject)
        t = None
        if isinstance(e.subject, A.Var):
            name = e.subject.name
            if name in self._local_types:
                t = self._local_types[name]
        if t is None:
            t = self.static_type(e.subject)
        if t is None:
            t = self.dtype_of(subj)
        key = e.key
        if _is_zoned_dt(t):
            k = key.lower()
            if k == "timezone":
                return subj.getField("tz")
            if k == "offset":
                return _zone_offset_str(subj)
            if k == "offsetseconds":
                return ((F.unix_micros(_zoned_wall(subj).cast("timestamp"))
                         - F.unix_micros(subj.getField("instant")))
                        / 1_000_000).cast("long")
            if k == "epochmillis":
                return (F.unix_micros(subj.getField("instant")) / 1000) \
                    .cast("long")
            if k == "epochseconds":
                return F.unix_seconds(subj.getField("instant"))
            fn = TEMPORAL_FIELDS.get(k)
            if fn is not None:
                return fn(_zoned_wall(subj)).cast("long")
            raise CypherTypeError(f"unknown temporal field {key}")
        from . import anyvalue as AV

        if AV.is_any_type(t):
            # property access through the heterogeneous encoding
            return AV.any_get_key(subj, F.lit(key), t)
        if isinstance(t, T.StructType):
            if {"crs", "x", "y"} <= set(t.fieldNames()):
                # point accessors (PointValue.java get): latitude/longitude/
                # height only for geographic CRS; crs/srid reflect
                # dimensionality (wgs-84[-3d] 4326/4979, cartesian[-3d]
                # 7203/9157, CoordinateReferenceSystem.java)
                k = key.lower()
                crs0 = subj.getField("crs")
                is3d = subj.getField("z").isNotNull()
                geo = crs0.startswith("wgs")
                if k == "latitude":
                    return F.when(geo, subj.getField("y"))
                if k == "longitude":
                    return F.when(geo, subj.getField("x"))
                if k == "height":
                    return F.when(geo, subj.getField("z"))
                if k == "crs":
                    return F.when(is3d, F.concat(crs0, F.lit("-3d"))) \
                        .otherwise(crs0)
                if k == "srid":
                    return F.when(geo & is3d, 4979) \
                        .when(geo, 4326) \
                        .when(is3d, 9157).otherwise(7203).cast("long")
            if key in t.fieldNames():
                return subj.getField(key)
            if _is_duration(t):
                # derived duration components (DurationFields.java)
                m, d = subj.getField("months"), subj.getField("days")
                s, ns = subj.getField("seconds"), subj.getField("nanos")
                derived = {
                    "years": F.floor(m / 12), "quarters": F.floor(m / 3),
                    "weeks": F.floor(d / 7), "hours": F.floor(s / 3600),
                    "minutes": F.floor(s / 60),
                    "milliseconds": s * 1000 + F.floor(ns / 1_000_000),
                    "microseconds": s * 1_000_000 + F.floor(ns / 1000),
                    "nanoseconds": s * 1_000_000_000 + ns,
                    # *Of* accessors (DurationFields.java MONTHS_OF_YEAR..)
                    # — Java's sign-preserving % (negative durations keep
                    # negative components)
                    "monthsofyear": m % 12,
                    "monthsofquarter": m % 3,
                    "quartersofyear": F.floor(m / 3) % 4,
                    "daysofweek": d % 7,
                    "minutesofhour": F.floor(s / 60) % 60,
                    "secondsofminute": s % 60,
                    "millisecondsofsecond": F.floor(ns / 1_000_000),
                    "microsecondsofsecond": F.floor(ns / 1000),
                    "nanosecondsofsecond": ns,
                }
                k = key.lower()
                if k in derived:
                    return derived[k].cast("long")
            return F.lit(None)
        if isinstance(t, T.MapType):
            return F.element_at(subj, F.lit(key))
        if isinstance(t, (T.DateType, T.TimestampType, T.TimestampNTZType)):
            fn = TEMPORAL_FIELDS.get(key.lower())
            if fn is not None:
                col = fn(subj)
                return col.cast("long")
            if key.lower() == "epochmillis":
                return (F.unix_micros(subj.cast("timestamp")) / 1000).cast("long")
            if key.lower() == "epochseconds":
                return F.unix_seconds(subj.cast("timestamp"))
            raise CypherTypeError(f"unknown temporal field {key}")
        # unresolvable (null literal etc.)
        return F.lit(None)

    def _c_MapProjection(self, e: "A.MapProjection") -> Column:
        """Map projection -> struct column (DesugaredMapProjection.scala);
        later items override earlier ones on key collision."""
        subj = self.compile(A.Var(e.var))
        t = self._local_types.get(e.var) or self.dtype_of(subj)
        fields: Dict[str, Column] = {}
        for it in e.items:
            if it[0] == "all":
                if isinstance(t, T.StructType):
                    for f in t.fields:
                        if not f.name.startswith("_"):
                            fields[f.name] = subj.getField(f.name)
            elif it[0] == "prop":
                k = it[1]
                if isinstance(t, T.StructType):
                    fields[k] = (subj.getField(k) if k in t.fieldNames()
                                 else F.lit(None))
                elif isinstance(t, T.MapType):
                    fields[k] = F.element_at(subj, F.lit(k))
                else:
                    fields[k] = F.lit(None)
            elif it[0] == "var":
                fields[it[1]] = self.compile(A.Var(it[1]))
            else:  # ("kv", key, expr)
                fields[it[1]] = self.compile(it[2])
        if not fields:
            raise CypherTypeError("empty map projection is unsupported")
        return F.struct(*[c.alias(k) for k, c in fields.items()])

    # ---- operators -------------------------------------------------------

    @staticmethod
    def _cmp_group(t) -> Optional[str]:
        """Value class for comparability (ValueGroup.java:32): numbers
        compare across widths, everything else only within its own class.
        None = statically unknown (null literal / unresolved) — defer to
        Spark's null propagation."""
        if t is None or isinstance(t, T.NullType):
            return None
        if isinstance(t, T.NumericType):
            return "number"
        if isinstance(t, T.StringType):
            return "text"
        if isinstance(t, T.BooleanType):
            return "boolean"
        if isinstance(t, (T.DateType, T.TimestampNTZType, T.TimestampType)):
            # documented divergence: the reference keeps DATE /
            # LOCAL_DATE_TIME / ZONED_DATE_TIME in separate (incomparable)
            # ValueGroups; we coerce instants like SQL so date columns
            # compare against datetime() literals (the fixture's parquet
            # dates surface as either Date or TimestampNTZ)
            return "temporal-instant"
        if isinstance(t, T.ArrayType):
            return "list"
        if isinstance(t, T.StructType):
            if _is_duration(t):
                return "duration"
            if _is_zoned_dt(t):
                return "temporal-instant"
            if {f.name for f in t.fields} >= {"crs", "x", "y"}:
                return "point"
            return "struct"
        return None

    @staticmethod
    def _unzone(c: Column, t) -> tuple:
        """A named-zone datetime struct compares by its INSTANT
        (ZonedDateTime ordering ignores the zone id)."""
        if _is_zoned_dt(t):
            return c.getField("instant"), T.TimestampType()
        return c, t

    def _ternary_eq(self, l: Column, lt, r: Column, rt,
                    nif: bool = False) -> Column:
        """Ternary (Kleene) equality for statically-typed values
        (AnyValue.ternaryEquals, AnyValue.java:62).

        Cross-value-class pairs decide FALSE (never an error); lists
        compare as length-then-elementwise three-valued AND, so a null
        element yields null unless some element definitely differs; maps
        compare as keyset-then-per-key three-valued AND.  Both container
        forms recurse, so nested lists/maps get ternary semantics at
        every static depth.  (Plain Spark array/struct ``==`` treats null
        elements as equal — exactly the divergence this avoids.)
        """
        l, lt = self._unzone(l, lt)
        r, rt = self._unzone(r, rt)
        from . import anyvalue as AV

        if AV.is_any_type(lt) or AV.is_any_type(rt):
            # tagged operand(s) — e.g. elements of a heterogeneous list:
            # the payload-null fields are encoding detail, not map
            # entries, so equality routes through the tagged comparator
            scalar_ok = all(
                (AV.is_any_type(t_) and not AV.is_deep_any_type(t_))
                or AV._is_scalar_class(t_) for t_ in (lt, rt))
            if scalar_ok:
                return AV.any_eq(AV.to_any(l, lt), AV.to_any(r, rt))
            d = max(1, AV.container_depth(lt), AV.container_depth(rt))
            return AV.any_eq_deep(AV.to_any_deep(l, lt, d),
                                  AV.to_any_deep(r, rt, d), d)
        lg, rg = self._cmp_group(lt), self._cmp_group(rt)
        if lg is not None and rg is not None and lg != rg:
            return F.when(l.isNull() | r.isNull(),
                          F.lit(None).cast("boolean")).otherwise(F.lit(False))
        if isinstance(lt, T.ArrayType) and isinstance(rt, T.ArrayType):
            el_t, er_t = lt.elementType, rt.elementType
            return (F.when(l.isNull() | r.isNull(),
                           F.lit(None).cast("boolean"))
                     .when(F.size(l) != F.size(r), F.lit(False))
                     .otherwise(F.forall(
                         F.zip_with(l, r, lambda x, y:
                                    self._ternary_eq(x, el_t, y, er_t)),
                         lambda b: b)))
        if lg == "struct" and rg == "struct" \
                and isinstance(lt, T.StructType) \
                and isinstance(rt, T.StructType):
            lkeys = sorted(f.name for f in lt.fields)
            rkeys = sorted(f.name for f in rt.fields)
            if lkeys != rkeys:
                return F.when(l.isNull() | r.isNull(),
                              F.lit(None).cast("boolean")) \
                    .otherwise(F.lit(False))
            ltypes = {f.name: f.dataType for f in lt.fields}
            rtypes = {f.name: f.dataType for f in rt.fields}
            conj = F.lit(True)
            for k in lkeys:
                conj = conj & self._ternary_eq(
                    l.getField(k), ltypes[k], r.getField(k), rtypes[k])
            return F.when(l.isNull() | r.isNull(),
                          F.lit(None).cast("boolean")).otherwise(conj)
        nan = self._nan_any(l, lt, r, rt)
        if nan is not None:
            # a NaN operand decides FALSE, never a match (Value.java:151
            # hasNaNOperand -> Equality.FALSE); Spark's == is NaN-safe
            # (NaN == NaN is true) — exactly the divergence this avoids.
            # Filter context: pushable EqualTo conjunct + isnan residual
            if nif:
                eq = l == r
                for c_, t_ in ((l, lt), (r, rt)):
                    if isinstance(t_, (T.FloatType, T.DoubleType)):
                        eq = eq & ~F.isnan(c_)
                return eq
            return (F.when(l.isNull() | r.isNull(),
                           F.lit(None).cast("boolean"))
                     .when(nan, F.lit(False)).otherwise(l == r))
        return l == r

    @staticmethod
    def _nan_any(l: Column, lt, r: Column, rt):
        """isnan(l) | isnan(r) over whichever operands are statically
        floating-point, or None when neither can be NaN."""
        nan = None
        for c_, t_ in ((l, lt), (r, rt)):
            if isinstance(t_, (T.FloatType, T.DoubleType)):
                g = F.isnan(c_)
                nan = g if nan is None else (nan | g)
        return nan

    def _tag_pair(self, arr: Column, el_t, other: Column, other_t,
                  both_lists: bool = False):
        """Encode a list's elements and a companion value into one shared
        tagged layout (heterogeneous list append/concat — the ListValue
        append/prepend branches of CypherMath.java add).  Returns
        (encoded_array, encoded_other); ``other`` is a second list when
        ``both_lists``, else a single element."""
        from . import anyvalue as AV

        types = [el_t, other_t]
        if all(AV._is_scalar_class(t)
               or (AV.is_any_type(t) and not AV.is_deep_any_type(t))
               for t in types):
            def enc(c, t):
                return c if AV.is_any_type(t) else AV.to_any(c, t)
        else:
            d = max(1, *[AV.container_depth(t) for t in types])

            def enc(c, t):
                return AV.to_any_deep(c, t, d)
        ea = F.transform(arr, lambda x: enc(x, el_t))
        eo = (F.transform(other, lambda x: enc(x, other_t))
              if both_lists else enc(other, other_t))
        return ea, eo

    def _coerce_predicate(self, c: Column) -> Column:
        """Boolean-context coercion (the reference's CoerceToPredicate):
        a LIST operand of AND/OR/XOR/NOT coerces to its non-emptiness —
        empty -> false, non-empty -> true, null -> null
        (ReturnAcceptance 'RETURN true AND list')."""
        t = self.dtype_of(c)
        if isinstance(t, T.ArrayType):
            return F.when(c.isNull(), F.lit(None).cast("boolean")) \
                    .otherwise(F.size(c) > 0)
        return c

    def _c_BinOp(self, e: A.BinOp) -> Column:
        op = e.op
        if op in ("AND", "OR", "XOR"):
            l = self._coerce_predicate(self.compile(e.left))
            r = self._coerce_predicate(self.compile(e.right))
            if op == "AND":
                return l & r
            if op == "OR":
                return l | r
            return l != r  # Kleene XOR: null-propagating boolean inequality
        if op in ("=", "<>"):
            from . import anyvalue as AV

            nif, self._nif = self._nif and op == "=", False
            l, r = self._entity_aware(e.left), self._entity_aware(e.right)
            lt = self.dtype_of(l)
            rt0 = self.dtype_of(r)
            l, lt = self._unzone(l, lt)
            r, rt0 = self._unzone(r, rt0)
            if AV.is_any_type(lt) or AV.is_any_type(rt0):
                if AV.is_deep_any_type(lt) or AV.is_deep_any_type(rt0):
                    d = max(1, AV.container_depth(lt),
                            AV.container_depth(rt0))
                    eq = AV.any_eq_deep(AV.to_any_deep(l, lt, d),
                                        AV.to_any_deep(r, rt0, d), d)
                else:
                    eq = AV.any_eq(AV.to_any(l, lt), AV.to_any(r, rt0))
                return eq if op == "=" else ~eq
            eq = self._ternary_eq(l, lt, r, rt0, nif=nif)
            return eq if op == "=" else ~eq
        if op in ("<", "<=", ">", ">="):
            from . import anyvalue as AV

            nif, self._nif = self._nif, False
            l, r = self._entity_aware(e.left), self._entity_aware(e.right)
            lt0, rt0 = self.dtype_of(l), self.dtype_of(r)
            l, lt0 = self._unzone(l, lt0)
            r, rt0 = self._unzone(r, rt0)
            if (AV.is_any_type(lt0) or AV.is_any_type(rt0)
                    or isinstance(lt0, T.ArrayType)
                    or isinstance(rt0, T.ArrayType)):
                # tagged operands, and ALSO plain list-vs-list: Spark's
                # array comparison is neither ternary (null/NaN elements
                # decide instead of undefining) nor type-lenient, so list
                # comparisons always run through the tagged comparator
                scalar_ok = all(
                    (AV.is_any_type(t_) and not AV.is_deep_any_type(t_))
                    or AV._is_scalar_class(t_) for t_ in (lt0, rt0))
                if scalar_ok:
                    return AV.any_cmp(AV.to_any(l, lt0),
                                      AV.to_any(r, rt0), op)
                d = max(1, AV.container_depth(lt0),
                        AV.container_depth(rt0))
                return AV.any_cmp_deep(AV.to_any_deep(l, lt0, d),
                                       AV.to_any_deep(r, rt0, d), op, d)
            lg = self._cmp_group(lt0)
            rg = self._cmp_group(rt0)
            if lg is not None and rg is not None and lg != rg:
                # comparison across incomparable value classes yields NULL
                # (AnyValues TERNARY_COMPARATOR, AnyValues.java:69)
                return F.lit(None).cast("boolean")
            if lg == "duration" and rg == "duration":
                # durations are orderable but NOT comparable — months vs
                # days have no fixed ratio (TemporalValue comparability)
                return F.lit(None).cast("boolean")
            cmp = {"<": l < r, "<=": l <= r, ">": l > r, ">=": l >= r}[op]
            nan = self._nan_any(l, lt0, r, rt0)
            if nan is not None:
                # a NaN operand makes the comparison FALSE — the runtime
                # behavior pinned by the reference's NaNAcceptance
                # .feature (NOT(0.0 < 0.0/0.0) = true), Cypher 5's
                # false-for-NaN rule; Spark orders NaN greatest instead.
                # In the null-is-false filter context emit pushable
                # conjuncts — the comparison atom reaches PushedFilters,
                # the isnan residual evaluates in the Filter node
                if nif:
                    for c_, t_ in ((l, lt0), (r, rt0)):
                        if isinstance(t_, (T.FloatType, T.DoubleType)):
                            cmp = cmp & ~F.isnan(c_)
                    return cmp
                # null checks precede the NaN rule (NO_VALUE first in
                # Value.ternaryEquals): null < NaN is null, not false
                return (F.when(l.isNull() | r.isNull(),
                               F.lit(None).cast("boolean"))
                         .when(nan, F.lit(False)).otherwise(cmp))
            return cmp
        if op == "IN":
            # Ternary IN (AnyValue.ternaryEquals, AnyValue.java:62):
            #   null IN [..non-empty..] -> null;  null IN [] -> false;
            #   x IN [..] -> true on a definite match, null if the list has
            #   a null and no match, false otherwise; x IN null -> null.
            from . import anyvalue as AV

            l = self._entity_aware(e.left)
            r = self.compile(e.right)
            rt0 = self.dtype_of(r)
            if rt0 is None or isinstance(rt0, T.NullType):
                return F.lit(None).cast("boolean")  # x IN null -> null
            if (isinstance(rt0, T.ArrayType)
                    and AV.is_any_type(rt0.elementType)):
                # a CONTAINER lhs against scalar-layout elements promotes
                # both sides to the deep layout (cross-class compares are
                # false, never an encode error)
                ldepth = AV.container_depth(self.dtype_of(l))
                if AV.is_deep_any_type(rt0.elementType) or ldepth > 0:
                    d = max(AV.any_layout_depth(rt0.elementType),
                            ldepth, 1)
                    la = AV.to_any_deep(l, self.dtype_of(l), d)

                    def el_eq(a, b, _d=d, _et=rt0.elementType):
                        a = AV._rewiden(a, AV.any_layout_depth(_et), _d)
                        return AV.any_eq_deep(a, b, _d)
                else:
                    la = AV.to_any(l, self.dtype_of(l))
                    el_eq = AV.any_eq
                from ..functions.let import let, let2

                def with_la(la_):
                    # one copy of the (recursively large) element
                    # comparator: bind the per-element results once
                    def with_eqs(eqs):
                        hits = F.size(F.filter(
                            eqs, lambda x: F.coalesce(x, F.lit(False))))
                        # an UNDEFINED element comparison (e.g.
                        # [null] = [[]]) makes the whole IN null when
                        # nothing matched
                        maybe = F.exists(eqs, lambda x: x.isNull())
                        has_null = F.exists(
                            r, lambda el: AV.any_is_null(el))
                        return (F.when(r.isNull(),
                                       F.lit(None).cast("boolean"))
                                 .when(hits > 0, F.lit(True))
                                 .when(AV.any_is_null(la_)
                                       & (F.size(r) > 0),
                                       F.lit(None).cast("boolean"))
                                 .when(has_null | maybe,
                                       F.lit(None).cast("boolean"))
                                 .otherwise(F.lit(False)))

                    return let(
                        F.transform(r, lambda el: el_eq(el, la_)),
                        with_eqs)

                return let(la, with_la)
            if isinstance(rt0, T.ArrayType):
                # ternary element equality (recursive — a null INSIDE a
                # candidate list makes the comparison undefined, not a
                # match): true on a definite hit, null if any element
                # comparison is undefined, else false
                lt_l = self.dtype_of(l)
                et = rt0.elementType

                def _cmp(el):
                    return self._ternary_eq(el, et, l, lt_l)

                hits = F.size(F.filter(
                    r, lambda el: F.coalesce(_cmp(el), F.lit(False))))
                maybe = F.exists(r, lambda el: _cmp(el).isNull())
                return (F.when(r.isNull(), F.lit(None).cast("boolean"))
                         .when(hits > 0, F.lit(True))
                         .when(F.coalesce(maybe, F.lit(False)),
                               F.lit(None).cast("boolean"))
                         .otherwise(F.lit(False)))
            hits = F.size(F.filter(
                r, lambda el: F.coalesce(el == l, F.lit(False))))
            has_null = F.exists(r, lambda el: el.isNull())
            return (F.when(r.isNull(), F.lit(None).cast("boolean"))
                     .when(hits > 0, F.lit(True))
                     .when(l.isNull() & (F.size(r) > 0),
                           F.lit(None).cast("boolean"))
                     .when(has_null, F.lit(None).cast("boolean"))
                     .otherwise(F.lit(False)))
        if op in ("STARTSWITH", "ENDSWITH", "CONTAINS"):
            # a non-text operand yields NULL, not false (CypherFunctions
            # startsWith/endsWith/contains: anything but two TextValues
            # returns NO_VALUE)
            from . import anyvalue as AV

            (l, lt), (r, rt) = (self.compile_typed(e.left),
                                self.compile_typed(e.right))

            def as_text(c_, t_):
                # text operand, or null when the value isn't text; a
                # statically non-text class decides null at compile time
                if t_ is None or isinstance(t_, (T.StringType, T.NullType)):
                    return c_
                if AV.is_any_type(t_):
                    return F.when(c_.getField("__vg") == AV.RANK_STRING,
                                  c_.getField("__vs"))
                return None

            lx, rx = as_text(l, lt), as_text(r, rt)
            if lx is None or rx is None:
                return F.lit(None).cast("boolean")
            fn = {"STARTSWITH": lx.startswith, "ENDSWITH": lx.endswith,
                  "CONTAINS": lx.contains}[op]
            return fn(rx)
        if op == "=~":
            l = self.compile(e.left)
            r = self.compile(e.right)
            # Java matches(): anchored full-string match
            pat = F.concat(F.lit("^(?:"), r, F.lit(")$"))
            return F.regexp_like(l, pat)
        # arithmetic
        lc, lt = self.compile_typed(e.left)
        rc, rt = self.compile_typed(e.right)
        if op in ("+", "-", "*", "/", "%", "^"):
            # a runtime-tagged SCALAR operand (e.g. an element of a mixed
            # int/float list) participates in arithmetic as its numeric
            # value — non-numbers yield null (the reference raises; the
            # engine's tagged path is null-propagating)
            from . import anyvalue as AV

            def _num(c, t):
                num = F.when(
                    c.getField("__vg") == AV.RANK_NUMBER,
                    F.coalesce(c.getField("__vi").cast("double"),
                               c.getField("__vn")))
                return num, T.DoubleType()

            l_tag = AV.is_any_type(lt) and not AV.is_deep_any_type(lt)
            r_tag = AV.is_any_type(rt) and not AV.is_deep_any_type(rt)
            num_t = (*INT_TYPES, T.FloatType, T.DoubleType, T.DecimalType,
                     T.NullType)
            # '+' doubles as string/list concat, so only untag when the
            # other side is statically numeric (or tagged itself); the
            # other five operators are numeric-only
            if op == "+":
                ok_l = r_tag or rt is None or isinstance(rt, num_t)
                ok_r = l_tag or lt is None or isinstance(lt, num_t)
            else:
                ok_l = ok_r = True
            if l_tag and ok_l:
                lc, lt = _num(lc, lt)
            if r_tag and ok_r:
                rc, rt = _num(rc, rt)
        if op == "+":
            return self._plus(lc, lt, rc, rt)
        if op == "||":
            # concatenation NEVER coerces (ConcatenationAcceptance
            # .feature: 1 || [3], 'a' || 3, date() || date() are all
            # type errors) — both operands must be STRINGs or both
            # LISTs; null passes through; a tagged (runtime-typed)
            # operand defers to + semantics
            from . import anyvalue as AV

            def kind(t):
                if t is None or isinstance(t, T.NullType):
                    return None
                if AV.is_any_type(t):
                    return "any"
                if isinstance(t, T.ArrayType):
                    return "list"
                if isinstance(t, T.StringType):
                    return "string"
                return "bad"

            lk, rk = kind(lt), kind(rt)
            ok = {None, "any", "list", "string"}
            if lk == "bad" or rk == "bad" or (
                    lk in ("list", "string") and rk in ("list", "string")
                    and lk != rk):
                raise CypherTypeError(
                    "concatenation (||) requires two STRING or two LIST "
                    f"operands, got {lt.simpleString() if lt else 'null'}"
                    f" || {rt.simpleString() if rt else 'null'}")
            assert lk in ok and rk in ok
            out = self._plus(lc, lt, rc, rt)
            if "any" in (lk, rk):
                # runtime-typed operand: enforce the same no-coercion
                # rule per row (a tagged number || string must raise,
                # not fall back to +'s lenient mixing)
                from ..functions.registry import _checked

                checks = []
                for cc, kk in ((lc, lk), (rc, rk)):
                    if kk == "any":
                        g_ = cc.getField("__vg")
                        ranks = [AV.RANK_STRING, AV.RANK_NULL]
                        if AV.is_deep_any_type(self.dtype_of(cc)):
                            ranks.append(AV.RANK_LIST)
                        checks.append(g_.isin(*ranks))
                cond = checks[0] if len(checks) == 1 \
                    else checks[0] & checks[1]
                return _checked(
                    cond, out,
                    "concatenation (||) requires two STRING or two "
                    "LIST operands")
            return out
        if op == "-":
            if _is_duration(lt) and _is_duration(rt):
                return _dur_map2(lc, rc, lambda a, b: a - b)
            if _is_temporal(lt) and _is_duration(rt):
                return self._temporal_shift(lc, lt, rc, -1)
            if _is_zoned_dt(lt) and _is_duration(rt):
                return self._zoned_shift(lc, rc, -1)
            if ((_is_temporal(lt) or _is_zoned_dt(lt))
                    and (_is_temporal(rt) or _is_zoned_dt(rt))):
                # temporal - temporal is a type error in the reference
                # (CypherMath.java subtract: only Duration RHS allowed;
                # use duration.between)
                raise CypherTypeError(
                    "cannot subtract a temporal value from a temporal "
                    "value — use duration.between(a, b)")
            if ((_is_temporal(lt) or _is_zoned_dt(lt)
                 or _is_temporal(rt) or _is_zoned_dt(rt))
                    and not isinstance(lt, T.NullType)
                    and not isinstance(rt, T.NullType)):
                raise CypherTypeError(
                    "cannot subtract a number and a temporal value — "
                    "only durations add to or subtract from temporals")
            return lc - rc
        if op == "*":
            if _is_duration(lt):
                return _dur_scale(lc, rc)
            if _is_duration(rt):
                return _dur_scale(rc, lc)
            return lc * rc
        if op == "/":
            if _is_duration(lt):
                return _dur_scale(lc, F.lit(1.0) / rc.cast("double"))
            if isinstance(lt, INT_TYPES) and isinstance(rt, INT_TYPES):
                # Cypher integer / integer = integer division truncating
                # toward zero (CypherMath.java); true integral division —
                # a double round-trip loses exactness above 2^53
                return F.call_function("div", lc, rc)
            # float division never errors: x/0.0 -> ±Infinity, 0.0/0.0 -> NaN
            # (IEEE semantics, CypherMath.java) — Spark ANSI raises instead
            ld, rd = lc.cast("double"), rc.cast("double")
            return F.when(rd != 0.0, ld / rd).otherwise(
                F.when(ld > 0, F.lit(float("inf")))
                 .when(ld < 0, F.lit(float("-inf")))
                 .otherwise(F.lit(float("nan"))))
        if op == "%":
            if isinstance(lt, INT_TYPES) and isinstance(rt, INT_TYPES):
                return lc % rc  # % by integer zero raises (CypherMath)
            # floating % follows IEEE: x % 0.0 -> NaN, never an error
            # (CypherMath.java modulo uses Java % on doubles)
            ld, rd = lc.cast("double"), rc.cast("double")
            return F.when(rd != 0.0, ld % rd).otherwise(
                F.when(ld.isNull() | rd.isNull(),
                       F.lit(None).cast("double"))
                 .otherwise(F.lit(float("nan"))))
        if op == "^":
            return F.pow(lc, rc)
        raise CypherTypeError(f"unknown operator {op}")

    def _plus(self, lc: Column, lt, rc: Column, rt) -> Column:
        if _is_duration(lt) and _is_duration(rt):
            return _dur_map2(lc, rc, lambda a, b: a + b)
        if _is_temporal(lt) and _is_duration(rt):
            return self._temporal_shift(lc, lt, rc, 1)
        if _is_duration(lt) and _is_temporal(rt):
            return self._temporal_shift(rc, rt, lc, 1)
        if _is_zoned_dt(lt) and _is_duration(rt):
            return self._zoned_shift(lc, rc, 1)
        if _is_duration(lt) and _is_zoned_dt(rt):
            return self._zoned_shift(rc, lc, 1)
        # list branches take precedence over string concatenation
        # (CypherMath.java add: the ListValue append/prepend checks run
        # before the TextValue branch, so [1] + 'a' = [1, 'a'] and
        # 'a' + [1] = ['a', 1], never string concat)
        if isinstance(lt, T.ArrayType) and isinstance(rt, T.ArrayType):
            u = _unify_types(lt, rt)
            if u is not _NO_UNIFY:
                return F.concat(lc.cast(u), rc.cast(u))
            le, re_ = self._tag_pair(lc, lt.elementType, rc, rt.elementType,
                                     both_lists=True)
            return F.concat(le, re_)
        if isinstance(lt, T.ArrayType):
            if isinstance(rt, T.NullType):
                return F.lit(None).cast(lt)  # [..] + null -> null
            u = _unify_types(lt.elementType, rt)
            if u is not _NO_UNIFY:
                arr = lc.cast(T.ArrayType(u))
                return F.when(rc.isNull(), F.lit(None).cast(T.ArrayType(u))) \
                        .otherwise(F.array_append(arr, rc.cast(u)))
            le, re_ = self._tag_pair(lc, lt.elementType, rc, rt)
            return F.when(rc.isNull(), F.lit(None)) \
                    .otherwise(F.array_append(le, re_))
        if isinstance(rt, T.ArrayType):
            if isinstance(lt, T.NullType):
                return F.lit(None).cast(rt)
            u = _unify_types(rt.elementType, lt)
            if u is not _NO_UNIFY:
                arr, el = rc.cast(T.ArrayType(u)), lc.cast(u)
            else:
                arr, el = self._tag_pair(rc, rt.elementType, lc, lt)
            prepend = (F.array_prepend(arr, el) if hasattr(F, "array_prepend")
                       else F.concat(F.array(el), arr))
            return F.when(lc.isNull(), F.lit(None)).otherwise(prepend)
        if isinstance(lt, T.StringType) or isinstance(rt, T.StringType):
            ls = lc if isinstance(lt, T.StringType) else self._to_string(lc, lt)
            rs = rc if isinstance(rt, T.StringType) else self._to_string(rc, rt)
            return F.concat(ls, rs)
        if ((_is_temporal(lt) or _is_zoned_dt(lt)
             or _is_temporal(rt) or _is_zoned_dt(rt))
                and not isinstance(lt, T.NullType)
                and not isinstance(rt, T.NullType)):
            # temporal + number / temporal + temporal is a type error in
            # the reference (CypherMath.java add: temporals only combine
            # with Duration); a NULL operand still propagates null
            raise CypherTypeError(
                "cannot add a temporal value and a non-duration value")
        return lc + rc

    def _temporal_shift(self, tc: Column, tt, dur: Column, sign: int) -> Column:
        """temporal ± duration (CypherMath.java add/subtract on
        TemporalValue): calendar-correct month shift then day/second shift
        via a make_interval addition on timestamps.  The duration operand
        is let-bound — it is read 4x, and a COMPUTED duration (carry
        chains) inlined 4x compounds across chained arithmetic."""
        from ..functions.let import let

        def body(d):
            iv = F.make_interval(
                F.lit(0), (d.getField("months") * sign).cast("int"),
                F.lit(0), (d.getField("days") * sign).cast("int"),
                F.lit(0), F.lit(0),
                ((d.getField("seconds")
                  + d.getField("nanos") / F.lit(1e9))
                 * sign).cast("decimal(18,6)"))
            out = tc.cast("timestamp") + iv
            if isinstance(tt, T.DateType):
                return out.cast("date")
            if isinstance(tt, T.TimestampNTZType):
                return out.cast("timestamp_ntz")
            return out

        return let(dur, body)

    def _zoned_shift(self, zc: Column, dur: Column, sign: int) -> Column:
        """Named-zone ZonedDateTime ± duration (DurationValue.addTo,
        values/storable/DurationValue.java: months and days shift the
        WALL clock in the value's own zone — DST-aware, a +1 day across a
        spring-forward keeps the local hour — then seconds/nanos add as
        exact instant arithmetic).  Both operands let-bound (read 3-4x
        each)."""
        from ..functions.let import let2

        def body(z, d):
            tz = z.getField("tz")
            wall = F.from_utc_timestamp(z.getField("instant"), tz)
            iv = F.make_interval(
                F.lit(0), (d.getField("months") * sign).cast("int"),
                F.lit(0), (d.getField("days") * sign).cast("int"),
                F.lit(0), F.lit(0), F.lit(0).cast("decimal(18,6)"))
            back = F.to_utc_timestamp(wall + iv, tz)
            micros = (F.unix_micros(back)
                      + F.lit(sign) * (d.getField("seconds")
                                       * F.lit(1_000_000)
                                       + F.floor(d.getField("nanos")
                                                 / F.lit(1_000))
                                       .cast("long")))
            out = F.struct(F.timestamp_micros(micros).alias("instant"),
                           tz.alias("tz"))
            return F.when(z.isNull() | d.isNull(),
                          F.lit(None).cast(
                              "struct<instant:timestamp,tz:string>")) \
                    .otherwise(out)

        return let2(zc, dur, body)

    def _to_string(self, c: Column, t) -> Column:
        return c.cast("string")

    def _entity_aware(self, e: A.Expr) -> Column:
        c = self.compile(e)
        if isinstance(e, A.Var) and self.kinds.get(e.name) in ("node", "rel"):
            return c.getField("_id")
        return c

    def _c_UnaryOp(self, e: A.UnaryOp) -> Column:
        c, t = self.compile_typed(e.operand)
        if e.op == "NOT":
            return ~self._coerce_predicate(c)
        if e.op == "NEG":
            if _is_duration(t):
                return _dur_map2(c, None, lambda a, _: -a)
            return -c
        return c

    def _c_IsNull(self, e: A.IsNull) -> Column:
        from . import anyvalue as AV

        c = self.compile(e.operand)
        t = self.dtype_of(c)
        if AV.is_any_type(t):
            # a tagged null (rank 16) IS a Cypher null
            isn = c.isNull() | AV.any_is_null(c)
            return ~isn if e.negated else isn
        return c.isNotNull() if e.negated else c.isNull()

    def _c_IsTyped(self, e: A.IsTyped) -> Column:
        """Columns are statically typed, so conformance is decided from the
        Spark schema; only the null check is per-row.  ``null IS :: T`` is
        true for every nullable T (types include null by default — GQL
        semantics, ast/TypePredicateExpressions.scala)."""
        c, t = self.compile_typed(e.operand)
        name = e.type_name
        not_null = name.endswith(" NOT NULL")
        if not_null:
            name = name[: -len(" NOT NULL")]
        from . import anyvalue as AV

        if AV.is_any_type(t):
            # tagged values carry their type at runtime — IS :: checks the
            # rank (with INTEGER/FLOAT split on the integer payload)
            g = c.getField("__vg")
            rank_checks = {
                "STRING": g == AV.RANK_STRING,
                "VARCHAR": g == AV.RANK_STRING,
                "BOOLEAN": g == AV.RANK_BOOLEAN,
                "BOOL": g == AV.RANK_BOOLEAN,
                "INTEGER": (g == AV.RANK_NUMBER)
                & c.getField("__vi").isNotNull(),
                "INT": (g == AV.RANK_NUMBER)
                & c.getField("__vi").isNotNull(),
                "FLOAT": (g == AV.RANK_NUMBER)
                & c.getField("__vi").isNull(),
                "DATE": g == AV.RANK_DATE,
                "DATETIME": g == AV.RANK_ZONED_DT,
                "ZONED DATETIME": g == AV.RANK_ZONED_DT,
                "LOCAL DATETIME": g == AV.RANK_LOCAL_DT,
                "DURATION": g == AV.RANK_DURATION,
                "TIME": g == AV.RANK_ZONED_TIME,
                "ZONED TIME": g == AV.RANK_ZONED_TIME,
                "LOCAL TIME": g == AV.RANK_LOCAL_TIME,
                "LIST": g == AV.RANK_LIST,
                "LIST<ANY>": g == AV.RANK_LIST,
                "MAP": g == AV.RANK_MAP,
                "POINT": g == AV.RANK_POINT,
                "NODE": g == AV.RANK_NODE,
                "RELATIONSHIP": g == AV.RANK_REL,
                "PATH": g == AV.RANK_PATH,
                "ANY": F.lit(True),
                "PROPERTY VALUE": F.lit(True),
            }
            is_n = AV.any_is_null(c) | c.isNull()
            ok_dyn = rank_checks.get(name, F.lit(False))
            null_ok = not not_null and name != "NOTHING"
            res = F.when(is_n, F.lit(null_ok)).otherwise(ok_dyn)
            return ~res if e.negated else res
        ok = _type_conforms(t, name)
        null_ok = not not_null and name != "NOTHING"
        res = F.when(c.isNull(), F.lit(null_ok)).otherwise(F.lit(ok))
        return ~res if e.negated else res

    def _c_HasLabels(self, e: A.HasLabels) -> Column:
        subj = self.compile(e.subject)
        st_any = self.static_type(e.subject)
        from . import anyvalue as AV

        if AV.is_any_type(st_any):
            # runtime-tagged subject (e.g. UNWIND [node, rel, node]):
            # branch on the runtime group; the encoding carries the rel
            # type / label set in __vs.  Non-entities -> null (no match)
            tree0 = getattr(e, "label_tree", None)
            g = subj.getField("__vg")
            vs = subj.getField("__vs")
            labels_arr = F.when(
                vs.isNull() | (vs == ""),
                F.array().cast("array<string>")
            ).otherwise(F.split(vs, "\x1f"))

            def mk(kind2, labels_col, type_col):
                if tree0 is not None:
                    return compile_label_tree(tree0, labels_col, type_col)
                out2 = None
                if kind2 == "rel":
                    conds2 = [type_col == F.lit(l) for l in e.labels]
                else:
                    conds2 = [F.array_contains(labels_col, l)
                              for l in e.labels]
                for c2 in conds2:
                    out2 = c2 if out2 is None else (
                        (out2 | c2) if getattr(e, "any_labels", False)
                        else (out2 & c2))
                for l in getattr(e, "neg_labels", ()) or ():
                    c2 = (~(type_col == F.lit(l)) if kind2 == "rel"
                          else ~F.array_contains(labels_col, l))
                    out2 = c2 if out2 is None else out2 & c2
                if getattr(e, "req_any_label", False):
                    c2 = (type_col.isNotNull() if kind2 == "rel"
                          else F.size(labels_col) > 0)
                    out2 = c2 if out2 is None else out2 & c2
                if getattr(e, "req_no_label", False):
                    c2 = F.size(labels_col) == 0
                    out2 = c2 if out2 is None else out2 & c2
                return out2 if out2 is not None else F.lit(True)

            return (F.when(g == AV.RANK_NODE, mk("node", labels_arr, None))
                     .when(g == AV.RANK_REL, mk("rel", labels_arr, vs))
                     .otherwise(F.lit(None).cast("boolean")))
        kind = self.kinds.get(e.subject.name) if isinstance(e.subject, A.Var) else None
        if kind is None:
            # lambda-scoped subjects (``none(rel IN r WHERE rel:X)``)
            # aren't in the kinds map — classify by struct shape
            st = self.static_type(e.subject)
            if isinstance(st, T.StructType):
                names = st.fieldNames()
                if "_type" in names and "_labels" not in names:
                    kind = "rel"
        tree = getattr(e, "label_tree", None)
        if tree is not None:
            if kind == "rel":
                return compile_label_tree(tree, None,
                                          subj.getField("_type"))
            return compile_label_tree(tree, subj.getField("_labels"))
        if kind == "rel":
            conds = [subj.getField("_type") == F.lit(l) for l in e.labels]
        else:
            conds = [F.array_contains(subj.getField("_labels"), l) for l in e.labels]
        out = None
        for c in conds:
            out = c if out is None else (
                (out | c) if getattr(e, "any_labels", False) else (out & c))
        for l in getattr(e, "neg_labels", ()) or ():
            c = (~(subj.getField("_type") == F.lit(l)) if kind == "rel"
                 else ~F.array_contains(subj.getField("_labels"), l))
            out = c if out is None else out & c
        if getattr(e, "req_any_label", False):
            # '%': every rel has a type; for nodes the internal '_none'
            # no-label shard marker doesn't count
            c = (subj.getField("_type").isNotNull() if kind == "rel"
                 else F.size(F.array_remove(subj.getField("_labels"),
                                            "_none")) > 0)
            out = c if out is None else out & c
        if getattr(e, "req_no_label", False):
            c = (subj.getField("_type").isNull() if kind == "rel"
                 else F.size(F.array_remove(subj.getField("_labels"),
                                            "_none")) == 0)
            out = c if out is None else out & c
        return out if out is not None else F.lit(True)

    # ---- containers ------------------------------------------------------

    def _c_ListLit(self, e: A.ListLit) -> Column:
        if not e.items:
            # keep the element type OPEN (array<void>): a concrete cast
            # here poisons shard unions — CREATE (:P {l: []}) next to
            # (:P {l: ['x']}) must resolve the column to array<string>,
            # not runtime-cast 'x' to a numeric
            # (CollectExpressionAcceptance Background's nicknames)
            return F.array()
        # Spark arrays widen numerics but cannot hold mixed value classes;
        # a list mixing string/boolean/number/null compiles to an array of
        # tagged AnyValue structs instead (anyvalue.py) — the reference's
        # heterogeneous ListValue (virtual/ListValue.java)
        classes = set()
        typed = []
        for x in e.items:
            c, t = self.compile_typed(x)
            typed.append((c, t))
            if t is None or isinstance(t, T.NullType):
                continue
            if isinstance(t, INT_TYPES):
                classes.add("integer")
            elif isinstance(t, (T.FloatType, T.DoubleType, T.DecimalType)):
                classes.add("float")
            elif isinstance(t, T.StringType):
                classes.add("string")
            elif isinstance(t, T.BooleanType):
                classes.add("boolean")
            elif isinstance(t, (T.DateType, T.TimestampType,
                                T.TimestampNTZType)):
                classes.add(t.simpleString())
            else:
                classes.add(t.simpleString())
        if classes == {"integer", "float"}:
            # DOCUMENTED DIVERGENCE: a flat int/float mix widens to
            # double (Spark numeric widening) — [2.0, 2] is
            # LIST<FLOAT NOT NULL> here where the reference's ListValue
            # keeps per-element identity (LIST<INTEGER NOT NULL | FLOAT
            # NOT NULL>).  The tagged encoding would preserve it but
            # degrades arithmetic/aggregation/ordering over numeric
            # lists (sum(x), x > 1.5, ORDER BY) — value-identical math
            # wins over type-description fidelity.
            classes = {"number"}
        if len(classes) > 1:
            # before falling back to the tagged encoding, try unifying the
            # static types (null-widening, numeric widening, field-wise on
            # same-shaped structs): [{k: null, v: 1}, {k: 'a', v: 3}] is a
            # homogeneous list of maps, not a heterogeneous value
            u: Optional[T.DataType] = None
            ok = True
            for _, t in typed:
                u = _unify_types(u, t)
                if u is _NO_UNIFY:
                    ok = False
                    break
            if ok and u is not None and not isinstance(u, T.NullType):
                return F.array(*[c.cast(u) for c, _ in typed])
            from . import anyvalue as AV

            if all(AV._is_scalar_class(t) or AV.is_any_type(t)
                   and not AV.is_deep_any_type(t) for _, t in typed):
                return F.array(*[AV.to_any(c, t) for c, t in typed])
            # a container class in the mix: EXTENDED layout (MAP/NODE/
            # RELATIONSHIP/LIST/POINT groups), recursed to the deepest
            # operand's static nesting
            d = max(1, *[AV.container_depth(t) for _, t in typed])
            return F.array(*[AV.to_any_deep(c, t, d) for c, t in typed])
        return F.array(*[c for c, _ in typed])

    def _c_MapLit(self, e: A.MapLit) -> Column:
        return F.struct(*[self.compile(v).alias(k) for k, v in e.items])

    def _c_Index(self, e: A.Index) -> Column:
        subj, t = self.compile_typed(e.subject)
        idx = self.compile(e.index)
        from . import anyvalue as AV

        if isinstance(t, T.ArrayType) and isinstance(
                self.dtype_of(idx), (T.FloatType, T.DoubleType,
                                     T.DecimalType)):
            # list subscripts must be integers (CypherFunctions
            # .listAccess: a FloatingPointValue index raises, 2.0 incl.)
            raise CypherTypeError(
                "Cannot index a list using a non-integer number")

        if AV.is_any_type(t):
            # container access through the heterogeneous encoding: a
            # string index is a map-key lookup, anything else a list index
            it = (type(e.index.value) if isinstance(e.index, A.Lit)
                  else None)
            if it is str or (it is None and isinstance(
                    self.dtype_of(idx), T.StringType)):
                return AV.any_get_key(subj, idx, t)
            return AV.any_get_index(subj, idx.cast("int"), t)
        if isinstance(t, T.MapType):
            return F.element_at(subj, idx)
        if isinstance(t, T.StructType) and isinstance(e.index, A.Lit):
            key = str(e.index.value)
            if key in t.fieldNames():
                return subj.getField(key)
            return F.lit(None)  # missing key on a map value is null
        if isinstance(t, T.StructType):
            # dynamic key on a node/rel/map struct: fields are static, so
            # compile to a CASE over the field names.  A Column has ONE
            # static type, so mixed field types coerce: numerics widen,
            # anything else falls back to string (documented divergence —
            # Cypher's n[k] is dynamically typed).
            fields = [f for f in t.fields if not f.name.startswith("_")]
            ftypes = {f.dataType.simpleString() for f in fields}
            if len(ftypes) == 1:
                cast = None
            elif ftypes <= {"tinyint", "smallint", "int", "bigint",
                            "float", "double", "decimal"}:
                cast = ("double" if ftypes & {"float", "double", "decimal"}
                        else "bigint")
            else:
                cast = "string"
            out = F.lit(None)
            if cast:
                out = out.cast(cast)
            for f in fields:
                v = subj.getField(f.name)
                if cast:
                    v = v.cast(cast)
                out = F.when(idx == F.lit(f.name), v).otherwise(out)
            return out
        # 0-based with negative wrap
        if isinstance(e.index, A.Lit) and isinstance(e.index.value, int):
            i = e.index.value
            return F.get(subj, i) if i >= 0 else F.get(subj, F.size(subj) + F.lit(i))
        return F.when(idx >= 0, F.get(subj, idx)).otherwise(
            F.get(subj, F.size(subj) + idx)
        )

    def _c_Slice(self, e: A.Slice) -> Column:
        subj = self.compile(e.subject)
        n = F.size(subj)
        lo0 = self.compile(e.lo) if e.lo is not None else F.lit(0)
        hi0 = self.compile(e.hi) if e.hi is not None else n
        lo = F.when(lo0 < 0, F.greatest(n + lo0, F.lit(0))).otherwise(F.least(lo0, n))
        hi = F.when(hi0 < 0, F.greatest(n + hi0, F.lit(0))).otherwise(F.least(hi0, n))
        length = F.greatest(hi - lo, F.lit(0))
        # a null bound nulls the whole slice (ListSlice.scala)
        return F.when(lo0.isNull() | hi0.isNull(),
                      F.lit(None).cast(self.dtype_of(subj).simpleString())) \
            .otherwise(F.slice(subj, lo + 1, length))

    def _c_Case(self, e: A.Case) -> Column:
        # branch result values mixing value classes (CASE ... THEN 1 ELSE
        # 'a') coerce to the tagged AnyValue encoding — Cypher CASE is
        # dynamically typed, a Spark CASE has one result type
        branch_vals = [val for _, val in e.whens]
        if e.default is not None:
            branch_vals.append(e.default)
        vt = []
        classes = set()
        for bv in branch_vals:
            c, t = self.compile_typed(bv)
            vt.append((c, t))
            g = self._cmp_group(t)
            if g is not None:
                classes.add("number" if g == "number" else
                            t.simpleString() if g == "temporal-instant"
                            else g)
        mixed = len(classes) > 1
        if mixed:
            from . import anyvalue as AV

            if all(AV._is_scalar_class(t) or AV.is_any_type(t)
                   and not AV.is_deep_any_type(t) for _, t in vt):
                vt = [(AV.to_any(c, t), None) for c, t in vt]
            else:
                d = max(1, *[AV.container_depth(t) for _, t in vt])
                vt = [(AV.to_any_deep(c, t, d), None) for c, t in vt]
        vals = [c for c, _ in vt]
        default = vals.pop() if e.default is not None else None
        col = None
        if e.operand is not None:
            op = self.compile(e.operand)
            for (cond, _), v in zip(e.whens, vals):
                c = op == self.compile(cond)
                col = F.when(c, v) if col is None else col.when(c, v)
        else:
            for (cond, _), v in zip(e.whens, vals):
                c, t = self.compile_typed(cond)
                if isinstance(t, T.NullType):
                    c = F.lit(False)  # CASE WHEN null -> no match
                col = F.when(c, v) if col is None else col.when(c, v)
        if default is not None:
            col = col.otherwise(default)
        return col

    # ---- lambdas (higher-order functions) --------------------------------

    def _with_local(self, name: str, col: Column, dtype, fn: Callable[[], Column]) -> Column:
        old = self.locals.get(name)
        oldt = self._local_types.get(name)
        self.locals[name] = col
        if dtype is not None:
            self._local_types[name] = dtype
        try:
            return fn()
        finally:
            if old is None:
                self.locals.pop(name, None)
                self._local_types.pop(name, None)
            else:
                self.locals[name] = old
                if oldt is not None:
                    self._local_types[name] = oldt

    def _elem_type(self, e: A.Expr):
        t = self.dtype_of(self.compile(e))
        return t.elementType if isinstance(t, T.ArrayType) else None

    def _c_ListComp(self, e: A.ListComp) -> Column:
        src = self.compile(e.source)
        if isinstance(self.dtype_of(src), T.NullType):
            # [x IN null ...] -> null (ListComprehension over NO_VALUE)
            return F.lit(None).cast("array<long>")
        et = self._elem_type(e.source)
        out = src
        if e.where is not None:
            out = F.filter(out, lambda x: self._with_local(
                e.var, x, et, lambda: self.compile(e.where)))
        if e.projection is not None:
            out = F.transform(out, lambda x: self._with_local(
                e.var, x, et, lambda: self.compile(e.projection)))
        return out

    def _c_Quantifier(self, e: A.Quantifier) -> Column:
        src = self.compile(e.source)
        if isinstance(self.dtype_of(src), T.NullType):
            # any/all/none/single over null is null (ternary logic)
            return F.lit(None).cast("boolean")
        et = self._elem_type(e.source)

        def pred(x):
            # cast keeps analysis alive when the element type is a
            # placeholder (e.g. an empty list literal types as
            # array<bigint>, so a bare-variable predicate isn't boolean);
            # the lambda never runs on an empty source anyway
            return self._with_local(
                e.var, x, et,
                lambda: self.compile(e.predicate)).cast("boolean")

        if e.kind == "all":
            return F.forall(src, pred)
        if e.kind == "any":
            return F.exists(src, pred)
        if e.kind == "none":
            return ~F.exists(src, pred)
        # single: ternary — two definite hits decide false, else any
        # undefined element makes the result undefined
        # (SingleFunction in IterableExpressions.scala)
        trues = F.size(F.filter(
            src, lambda x: F.coalesce(pred(x), F.lit(False))))
        undef = F.exists(src, lambda x: pred(x).isNull())
        return (F.when(src.isNull(), F.lit(None).cast("boolean"))
                 .when(trues > 1, F.lit(False))
                 .when(undef, F.lit(None).cast("boolean"))
                 .otherwise(trues == 1))

    def _c_Reduce(self, e: A.Reduce) -> Column:
        src = self.compile(e.source)
        if isinstance(self.dtype_of(src), T.NullType):
            return F.lit(None)  # reduce over null is null
        init = self.compile(e.init)
        et = self._elem_type(e.source)
        # Cypher ints are 64-bit; a 32-bit init literal must widen to the
        # element type or Spark rejects the merge lambda's result type
        it = self.static_type(e.init) or self.dtype_of(init)
        acc_t = it
        if isinstance(it, T.LongType) and et is not None \
                and isinstance(et, (T.LongType, T.DoubleType)):
            init = init.cast(et)
            acc_t = et
        if isinstance(acc_t, T.NullType):
            acc_t = None

        def _has_nulltype(t) -> bool:
            if t is None or isinstance(t, T.NullType):
                return True
            if isinstance(t, T.ArrayType):
                return _has_nulltype(t.elementType)
            if isinstance(t, T.MapType):
                return _has_nulltype(t.keyType) or _has_nulltype(t.valueType)
            if isinstance(t, T.StructType):
                return any(_has_nulltype(f.dataType) for f in t.fields)
            return False

        if _has_nulltype(acc_t):
            # placeholder-typed init (``[]`` types as array<void>, null as
            # void): Spark's aggregate() requires the zero's type to equal
            # the merge lambda's result type exactly — probe the merge as
            # a plain expression (acc := init, x := first element) and
            # cast the init to the concrete result type
            try:
                probe = self._with_local(
                    e.acc, init, acc_t,
                    lambda: self._with_local(
                        e.var, F.get(src, F.lit(0)), et,
                        lambda: self.compile(e.expr)))
                rt = self.dtype_of(probe)
                if rt is not None and not _has_nulltype(rt):
                    init = init.cast(rt)
                    acc_t = rt
            except Exception:
                pass  # keep the unprobed form; analysis decides

        def merge(acc, x):
            # the accumulator's type drives operator overloading inside the
            # lambda (e.g. + concatenates when acc is a string)
            return self._with_local(
                e.acc, acc, acc_t,
                lambda: self._with_local(e.var, x, et, lambda: self.compile(e.expr)),
            )

        return F.aggregate(src, init, merge)

    # ---- function calls --------------------------------------------------

    def _c_Func(self, e: A.Func) -> Column:
        from ..functions.registry import compile_function

        if is_agg_fn(e.name):
            raise CypherTypeError(
                f"aggregate {e.name}() outside aggregating projection")
        lname = e.name.lower()
        if lname == "nullif" and len(e.args) == 2:
            # nullIf(a, b) = CASE WHEN a = b THEN null ELSE a END with
            # CYPHER equality (ternary, cross-type) — Spark's nullif
            # requires same-typed operands, so a runtime-tagged mixed
            # value vs a plain literal would type-error
            # (NullIfFunctionAcceptance 'non matching cases')
            eq = self.compile(A.BinOp("=", e.args[0], e.args[1]))
            a = self.compile(e.args[0])
            return F.when(eq.eqNullSafe(F.lit(True)),
                          F.lit(None).cast(self.dtype_of(a) or "string")) \
                    .otherwise(a)
        if lname in ("graph.names", "graph.propertiesbyname"):
            # composite-catalog functions (GraphFunctions in the
            # reference's fabric surface): plan-time constants from the
            # session's GraphCatalog
            tr = self.translator
            cat = getattr(tr, "catalog", None) if tr is not None else None
            if lname == "graph.names":
                names = sorted(cat.graphs) if cat is not None else []
                return F.array(*[F.lit(n) for n in names])
            if not e.args or not isinstance(e.args[0], (A.Lit, A.Param)):
                raise CypherTypeError(
                    "graph.propertiesByName expects a constant graph name")
            val = (e.args[0].value if isinstance(e.args[0], A.Lit)
                   else (tr.params.get(e.args[0].name) if tr else None))
            if cat is not None and isinstance(val, str):
                cat.resolve(val)  # raises on unknown graph, like the ref
            # graphs carry no alias properties in this engine -> {} (the
            # reference returns an empty map for alias-less graphs too)
            return F.create_map().cast("map<string,string>")
        return compile_function(self, e)

    # subquery expressions are lowered by the translator before compile;
    # reaching here means they appear in an unsupported position
    def _c_ExistsSub(self, e):
        raise CypherTypeError("EXISTS {} must be lowered by translator")

    def _c_CountSub(self, e):
        raise CypherTypeError("COUNT {} must be lowered by translator")

    def _c_PatternPred(self, e):
        raise CypherTypeError("pattern predicate must be lowered by translator")

    def _c_PatternComp(self, e):
        raise CypherTypeError("pattern comprehension must be lowered by translator")


def is_agg_fn(name: str) -> bool:
    """Builtin aggregate or a registered @UserAggregationFunction analog."""
    if name in AGG_FNS:
        return True
    from ..functions.registry import USER_AGGREGATES

    return name in USER_AGGREGATES


def contains_aggregate(e: A.Expr) -> bool:
    if isinstance(e, (A.CountStar,)):
        return True
    if isinstance(e, A.Func) and is_agg_fn(e.name):
        return True
    return any(isinstance(c, A.Expr) and contains_aggregate(c)
               for c in A.children(e))
