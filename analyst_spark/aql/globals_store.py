"""GLOBAL database (compiler.go:20-22, :352-366): the reference keeps
a process-wide in-memory SQLite initialized by GLOBAL blocks. Here the
session catalog plays that role — every global table is a temp view,
so ``QUERY ... FROM GLOBAL`` is plain ``spark.sql`` over views, and
``INTO GLOBAL WITH (TABLE='t')`` appends to (or creates) a view.

GLOBAL block bodies are the small DDL/DML dialect the reference's own
examples use: ``CREATE TABLE name (col type [not null], ...)`` and
``INSERT INTO name [(cols)] VALUES (...), (...)``; both are parsed
here and turned into typed empty/literal DataFrames.
"""

from __future__ import annotations

import re
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_TYPE_MAP = {
    "int": T.LongType(),
    "integer": T.LongType(),
    "number": T.DoubleType(),
    "real": T.DoubleType(),
    "float": T.DoubleType(),
    "text": T.StringType(),
    "varchar": T.StringType(),
    "string": T.StringType(),
    "datetime": T.StringType(),  # ref carries times as strings (§1.2)
    "bool": T.BooleanType(),
    "boolean": T.BooleanType(),
}


# Guards every register-temp-view → spark.sql window in the engine:
# temp views are session-global while jobs are per-job, so concurrent
# jobs staging the same name would clobber each other. spark.sql()
# analysis is eager (the returned DataFrame binds to the view's plan at
# call time), so holding the lock only across register+analyze restores
# isolation. The reference never shares this state between concurrent
# jobs either — its AutoSQL staging is a fresh SQLite per transform and
# its server runs each job as a separate subprocess.
VIEW_LOCK = threading.Lock()


class GlobalStore:
    def __init__(self, spark: SparkSession, views: dict[str, DataFrame] | None = None):
        self.spark = spark
        # lower-case name -> session view the job reads by name (the
        # lake tables): re-asserted with the job's own tables, which
        # shadow them
        self.views = views or {}
        self.tables: dict[str, DataFrame] = {}

    def register(self, name: str, df: DataFrame, append: bool = True) -> None:
        with VIEW_LOCK:
            key = name.lower()
            if append and key in self.tables:
                df = self.tables[key].unionByName(
                    df, allowMissingColumns=True
                )
            self.tables[key] = df
            df.createOrReplaceTempView(key)

    def reassert_views(self) -> None:
        """Re-create THIS job's temp views (call under VIEW_LOCK just
        before a spark.sql over globals — a concurrent job may have
        pointed a same-named view at its own table since we last
        registered)."""
        for key, df in {**self.views, **self.tables}.items():
            df.createOrReplaceTempView(key)

    def get(self, name: str) -> DataFrame:
        return self.tables[name.lower()]

    # ---- GLOBAL block DDL/DML subset --------------------------------

    def run_global_block(self, body: str) -> None:
        for stmt in _split_statements(body):
            first = stmt.split(None, 1)[0].upper()
            if first == "CREATE":
                name, schema = _parse_create_table(stmt)
                self.register(
                    name, self.spark.createDataFrame([], schema), append=False
                )
            elif first == "INSERT":
                name, cols, rows = _parse_insert(stmt)
                base = self.get(name)
                schema = base.schema
                if cols:
                    order = {c.lower(): i for i, c in enumerate(cols)}
                    rows = [
                        [r[order[f.name.lower()]] if f.name.lower() in order else None
                         for f in schema.fields]
                        for r in rows
                    ]
                rows = [
                    [_coerce(v, f.dataType) for v, f in zip(r, schema.fields)]
                    for r in rows
                ]
                self.register(name, self.spark.createDataFrame(rows, schema))
            else:
                raise SyntaxError(
                    f"GLOBAL blocks support CREATE TABLE / INSERT, got {first}"
                )


def _split_statements(body: str) -> list[str]:
    stmts, buf, in_quote, depth = [], [], False, 0
    for ch in body:
        if in_quote:
            buf.append(ch)
            if ch == "'":
                in_quote = False
            continue
        if ch == "'":
            in_quote = True
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == ";" and depth == 0:
            s = "".join(buf).strip()
            if s:
                stmts.append(s)
            buf = []
        else:
            buf.append(ch)
    s = "".join(buf).strip()
    if s:
        stmts.append(s)
    return stmts


_CREATE_RE = re.compile(
    r"^CREATE\s+TABLE\s+(\w+)\s*\((.*)\)\s*$", re.I | re.S
)


def _parse_create_table(stmt: str) -> tuple[str, T.StructType]:
    m = _CREATE_RE.match(stmt.strip())
    if not m:
        raise SyntaxError(f"cannot parse CREATE TABLE: {stmt[:60]!r}")
    name, cols_src = m.groups()
    fields = []
    for col_def in _split_commas(cols_src):
        parts = col_def.split()
        if not parts:
            continue
        col = parts[0]
        if col.upper() in ("PRIMARY", "UNIQUE", "CHECK", "FOREIGN"):
            continue  # table constraints ignored
        typ = parts[1].lower() if len(parts) > 1 else "text"
        typ = re.sub(r"\(.*", "", typ)
        dt = _TYPE_MAP.get(typ, T.StringType())
        fields.append(T.StructField(col, dt, True))
    return name, T.StructType(fields)


_INSERT_RE = re.compile(
    r"^INSERT\s+INTO\s+(\w+)\s*(?:\(([^)]*)\))?\s*VALUES\s*(.+)$",
    re.I | re.S,
)


def _parse_insert(stmt: str) -> tuple[str, list[str] | None, list[list]]:
    m = _INSERT_RE.match(stmt.strip())
    if not m:
        raise SyntaxError(f"cannot parse INSERT: {stmt[:60]!r}")
    name, cols_src, values_src = m.groups()
    cols = [c.strip() for c in cols_src.split(",")] if cols_src else None
    rows = []
    for tup in _split_tuples(values_src):
        rows.append([_parse_literal(v) for v in _split_commas(tup)])
    return name, cols, rows


def _split_tuples(src: str) -> list[str]:
    tuples, depth, in_quote, buf = [], 0, False, []
    for ch in src:
        if in_quote:
            buf.append(ch)
            if ch == "'":
                in_quote = False
            continue
        if ch == "'":
            in_quote = True
            buf.append(ch)
        elif ch == "(":
            depth += 1
            if depth > 1:
                buf.append(ch)
        elif ch == ")":
            depth -= 1
            if depth == 0:
                tuples.append("".join(buf))
                buf = []
            else:
                buf.append(ch)
        elif depth > 0:
            buf.append(ch)
    return tuples


def _split_commas(src: str) -> list[str]:
    out, depth, in_quote, buf = [], 0, False, []
    for ch in src:
        if in_quote:
            buf.append(ch)
            if ch == "'":
                in_quote = False
            continue
        if ch == "'":
            in_quote = True
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == "," and depth == 0:
            out.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    last = "".join(buf).strip()
    if last:
        out.append(last)
    return out


def _parse_literal(src: str):
    s = src.strip()
    if s.upper() == "NULL":
        return None
    if s.startswith("'"):
        return s[1:-1].replace("''", "'")
    if re.match(r"^-?\d+$", s):
        return int(s)
    if re.match(r"^-?\d+\.\d*$", s):
        return float(s)
    raise SyntaxError(f"unsupported literal {s!r}")


def _coerce(v, dt: T.DataType):
    if v is None:
        return None
    if isinstance(dt, T.DoubleType):
        return float(v)
    if isinstance(dt, T.LongType):
        return int(v)
    if isinstance(dt, T.StringType):
        return str(v)
    if isinstance(dt, T.BooleanType):
        return bool(v)
    return v
