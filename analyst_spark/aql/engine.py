"""AQL compile + execute (the reference's compiler.go:97-223 and
engine/coordinator.go:277-413 re-thought for Spark).

The coordinator's goroutine-per-node/channel-per-edge machinery is
replaced by Spark's lazy DAG: blocks compile to DataFrame definitions
in dependency order; only sinks trigger actions. ``AFTER`` constraints
and EXEC side-effects impose explicit sequencing of those actions —
the one scheduling concern Spark doesn't own.

Test mode (compiler.go:34-56): destinations → devnull, EXEC bodies
neutralized, TEST assertion blocks evaluated.
"""

from __future__ import annotations

import re
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from analyst_spark.aql.assertions import check_assertions
from analyst_spark.aql.globals_store import GlobalStore
from analyst_spark.aql.parser import (
    Block,
    find_overridable_option,
    parse_script,
    truthy,
)
from analyst_spark.aql.transforms_parser import (
    build_aggregate,
    build_apply,
    build_lookup,
    dispatch,
    parse_lookup,
)
from analyst_spark.sinks.console import console_sink
from analyst_spark.sinks.devnull import devnull_sink
from analyst_spark.sinks.parameter import ParameterTable, parameter_sink
from analyst_spark.sources.literal import literal_source


@dataclass
class JobResult:
    console: list[str] = field(default_factory=list)
    parameters: dict[str, object] = field(default_factory=ParameterTable)
    globals: GlobalStore | None = None
    frames: dict[str, DataFrame] = field(default_factory=dict)


_STRFTIME_MAP = [
    ("%Y", "yyyy"), ("%m", "MM"), ("%d", "dd"), ("%H", "HH"),
    ("%M", "mm"), ("%S", "ss"), ("%f", "ss.SSS"), ("%j", "DDD"),
    ("%%", "%"),
]

# one nesting level of parens inside a function argument
_ARG = r"[^()]*(?:\([^()]*\)[^()]*)*"
# group_concat expr: no top-level commas (they separate the separator)
_GC_EXPR = r"[^(),]*(?:\([^()]*\)[^(),]*)*"


def _strftime_repl(m: "re.Match") -> str:
    fmt, arg = m.group(1), m.group(2).strip()
    if fmt == "%s":
        return f"CAST(to_unix_timestamp({arg}) AS STRING)"
    if fmt == "%w":
        return f"CAST(dayofweek({arg}) - 1 AS STRING)"
    out = fmt
    for k, v in _STRFTIME_MAP:
        out = out.replace(k, v)
    return f"date_format(to_timestamp({arg}), '{out}')"


def translate_sql(sql: str) -> str:
    """SQLite-dialect shim for the corpus the reference's tests use
    (SURVEY §7.3). Spark already speaks most of it natively —
    ``IFNULL``, ``||`` concat, ``CAST``, double-quoted strings — so
    the rewrites are only what Spark genuinely lacks:

    * single-quoted column aliases → backticks
    * ``strftime(fmt, x)`` → ``date_format`` with the pattern
      converted (``%s``/``%w`` get arithmetic forms)
    * ``datetime(x)`` / ``time(x)`` → formatted timestamp strings
      (SQLite returns text; ``date(x)`` is valid Spark already)
    * ``julianday(x)`` → unix-epoch arithmetic
    * ``GROUP_CONCAT([DISTINCT] x[, sep])`` →
      ``array_join(collect_list|collect_set(x), sep)``
    """
    sql = re.sub(r"(?i)\bAS\s+'([^']*)'", lambda m: f"AS `{m.group(1)}`", sql)
    sql = re.sub(
        r"(?i)\bstrftime\s*\(\s*'([^']*)'\s*,\s*(" + _ARG + r")\)",
        _strftime_repl,
        sql,
    )
    sql = re.sub(
        r"(?i)\bdatetime\s*\(\s*(" + _ARG + r")\)",
        lambda m: (
            "date_format(to_timestamp("
            + m.group(1).strip()
            + "), 'yyyy-MM-dd HH:mm:ss')"
        ),
        sql,
    )
    sql = re.sub(
        r"(?i)\btime\s*\(\s*(" + _ARG + r")\)",
        lambda m: "date_format(to_timestamp(" + m.group(1).strip() + "), 'HH:mm:ss')",
        sql,
    )
    sql = re.sub(
        r"(?i)\bjulianday\s*\(\s*(" + _ARG + r")\)",
        lambda m: (
            "(to_unix_timestamp(" + m.group(1).strip() + ") / 86400.0 + 2440587.5)"
        ),
        sql,
    )
    sql = re.sub(
        r"(?i)\bgroup_concat\s*\(\s*(DISTINCT\s+)?(" + _GC_EXPR + r")"
        r"(?:,\s*'([^']*)')?\s*\)",
        lambda m: (
            "array_join("
            + ("collect_set(" if m.group(1) else "collect_list(")
            + m.group(2).strip()
            + "), '"
            + (m.group(3) if m.group(3) is not None else ",")
            + "')"
        ),
        sql,
    )
    return sql


def _topo_order(blocks: list[Block]) -> list[Block]:
    """Dependency order: FROM BLOCK edges + AFTER constraints.
    Cycle detection mirrors coordinator.Compile's SCC check."""
    named = {b.name.lower(): b for b in blocks if b.name}
    deps: dict[int, set[int]] = {}
    index = {id(b): i for i, b in enumerate(blocks)}
    for b in blocks:
        d = set()
        for ref in b.sources:
            if ref.kind == "block" and ref.name and ref.name.lower() in named:
                d.add(index[id(named[ref.name.lower()])])
        for name in b.after:
            if name.lower() in named:
                d.add(index[id(named[name.lower()])])
        deps[index[id(b)]] = d
    order, state = [], {}

    def visit(i):
        if state.get(i) == 1:
            raise ValueError("cycle detected in job graph")
        if state.get(i) == 2:
            return
        state[i] = 1
        for j in sorted(deps[i]):
            visit(j)
        state[i] = 2
        order.append(blocks[i])

    for i in range(len(blocks)):
        visit(i)
    return order


# See globals_store.VIEW_LOCK: serializes every register-view →
# spark.sql window so concurrent jobs with same-named staging views
# cannot clobber each other (eager analysis makes the window short).
from analyst_spark.aql.globals_store import VIEW_LOCK as _AUTOSQL_VIEW_LOCK


def _bind_params(sql: str, names: list[str], params: dict[str, object]) -> str:
    """USING PARAMETER @p: positional '?' placeholders bound in order
    (engine/sql_source.go:68-81), values rendered as SQL literals."""
    values = []
    for n in names:
        key = n.lstrip("@")
        if key not in params:
            raise KeyError(f"parameter @{key} not set")
        values.append(params[key])
    # Split on '?' outside quoted literals only, so WHERE note = 'why?'
    # doesn't eat a placeholder (same quote tracking as the statement
    # splitter).
    parts, buf, quote = [], [], None
    for ch in sql:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
            buf.append(ch)
        elif ch == "?":
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    if len(parts) - 1 != len(values):
        raise ValueError(
            f"{len(parts)-1} placeholders but {len(values)} parameters"
        )
    out = [parts[0]]
    for v, tail in zip(values, parts[1:]):
        if v is None:
            lit = "NULL"
        elif isinstance(v, (int, float)):
            lit = str(v)
        else:
            lit = "'" + str(v).replace("'", "''") + "'"
        out.append(lit)
        out.append(tail)
    return "".join(out)


def _check_multisource_order(blk: Block) -> None:
    """Validate MULTISOURCE_ORDER exactly as the reference does
    (compiler.go:655-683): a string, PARALLEL or SEQUENTIAL,
    case-insensitive; anything else is a compile error."""
    val = blk.options.get("MULTISOURCE_ORDER")
    if val is None:
        return
    if str(val).upper() not in ("PARALLEL", "SEQUENTIAL"):
        raise ValueError(
            "expected MULTISOURCE_ORDER to be PARALLEL or SEQUENTIAL "
            f"in transform {blk.name} but got '{val}'"
        )


class Executor:
    def __init__(
        self,
        spark: SparkSession,
        test_mode: bool = False,
        connections: dict[str, "callable"] | None = None,
        plugins: dict[str, "callable"] | None = None,
        lookup_order_cols: dict[str, str] | None = None,
        tx_manager=None,
        connection_options: dict[str, dict] | None = None,
        logger=None,
        slack_post_fn=None,
        stopper=None,
        views=None,
    ):
        from analyst_spark.logging import ERROR, ConsoleLogger

        self.spark = spark
        # lake views FROM GLOBAL bodies may read (see GlobalStore)
        self.views = views
        self.test_mode = test_mode
        # quiet by default, like the reference's NewConsoleLogger(Error)
        self.logger = logger or ConsoleLogger(min_level=ERROR)
        self.slack_post_fn = slack_post_fn
        # connection name -> fn(spark, options) -> DataFrame (source)
        # or fn(df, options) -> None (sink); user/test-injected
        self.connections = {k.lower(): v for k, v in (connections or {}).items()}
        self.plugins = {k.lower(): v for k, v in (plugins or {}).items()}
        self.lookup_order_cols = lookup_order_cols or {}
        # optional JobTransactionManager: sinks stage during the run,
        # one commit point after the last block (engine/
        # transaction_manager.go:21-41's job-end Commit/Rollback)
        self.tx_manager = tx_manager
        # connection-level options: the middle tier of the reference's
        # block > connection > CLI > SET precedence (parser.go:558-587)
        self.connection_options = {
            k.lower(): v for k, v in (connection_options or {}).items()
        }
        # optional Stopper (engine/stopper.go): checked between blocks,
        # wired to cancelJobGroup so in-flight Spark stages abort too
        self.stopper = stopper
        self._job_opts: dict[str, object] = {}

    # -- connection resolution ---------------------------------------

    def _connection_handler(self, key: str):
        """Injected handler, else one auto-built from the CONNECTION
        block's DRIVER (compiler.go's connectionMap → engine source/
        destination instantiation). Built lazily so unused or
        injected-over connections never open resources."""
        fn = self.connections.get(key)
        if fn is not None:
            return fn
        base = key.split(".")[0]
        opts = self.connection_options.get(base)
        if not opts:
            return None
        from analyst_spark.aql.connections import build_connection_handlers

        for k, v in build_connection_handlers(
            base, opts, self.tx_manager
        ).items():
            self.connections.setdefault(k, v)
        return self.connections.get(key)

    # -- source resolution -------------------------------------------

    def _source_frame(self, blk: Block, res: JobResult) -> DataFrame:
        if not blk.sources:
            raise ValueError(f"block {blk.name!r} has no FROM source")
        # QUERY ... FROM BLOCK b (sql): the reference stages the
        # block's output into in-memory SQLite and runs the SQL over
        # it (docs-src/docs/query.md "Non-database sources",
        # auto_sql_transform.go) — here that is temp views + one
        # spark.sql. r7 fix: this path previously returned the
        # upstream frame unchanged, silently discarding the body.
        if (
            blk.kind == "query"
            and (blk.body or "").strip()
            and all(r.kind == "block" for r in blk.sources)
        ):
            body = blk.body or ""
            if blk.using_params:
                body = _bind_params(body, blk.using_params, res.parameters)
            with _AUTOSQL_VIEW_LOCK:
                for ref in blk.sources:
                    res.frames[ref.name.lower()].createOrReplaceTempView(
                        (ref.alias or ref.name).lower()
                    )
                return self.spark.sql(translate_sql(body))
        frames = []
        for ref in blk.sources:
            if ref.kind == "global":
                sql = translate_sql(blk.body or "")
                if blk.using_params:
                    sql = _bind_params(sql, blk.using_params, res.parameters)
                with _AUTOSQL_VIEW_LOCK:
                    res.globals.reassert_views()
                    return self.spark.sql(sql)
            if ref.kind == "block":
                frames.append(res.frames[ref.name.lower()])
            elif ref.kind == "connection":
                fn = self._connection_handler(ref.name.lower())
                if fn is None:
                    raise ValueError(f"no connection registered: {ref.name!r}")
                # USING PARAMETER binds on EVERY SQL-bearing source,
                # exactly like the reference's SQLSource
                # (engine/sql_source.go:68-81) — not only GLOBAL
                # bodies (r7 fix: the connection path sent raw '?'
                # to the remote engine)
                body = blk.body or ""
                if body and blk.using_params:
                    body = _bind_params(
                        body, blk.using_params, res.parameters
                    )
                if getattr(fn, "executes_sql", False):
                    # a SQL connection is a remote engine: the query
                    # body runs ON it, not on Spark over a view
                    df = fn(self.spark, blk.options, body)
                else:
                    df = fn(self.spark, blk.options)
                    if body and blk.kind == "query":
                        view = (ref.alias or ref.name).lower()
                        with _AUTOSQL_VIEW_LOCK:
                            df.createOrReplaceTempView(view)
                            df = self.spark.sql(translate_sql(body))
                frames.append(df)
        if len(frames) == 1:
            return frames[0]
        # MULTISOURCE: deterministic ordered union (SURVEY §1.1).
        # MULTISOURCE_ORDER (compiler.go:655-683 sequenceSources,
        # engine/sequencer.go:11-60): SEQUENTIAL = rows of source i
        # precede rows of source i+1; PARALLEL (default) = no ordering
        # guarantee. An ordered unionByName satisfies both — Spark's
        # union IS the sequencer here (partitions of f1 are numbered
        # before f2's, so any order-sensitive sink that drains
        # partition-ordered output sees the sequential order), and the
        # sources still SCAN in parallel because they are all part of
        # one lazy plan. The option is validated like the reference.
        _check_multisource_order(blk)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    # -- block execution ---------------------------------------------

    def run(self, blocks: list[Block], options: dict | None = None) -> JobResult:
        res = JobResult(globals=GlobalStore(self.spark, self.views))
        # script SET globals override same-named CLI options
        # (compiler.go:239-268 mergeOptions)
        opts = dict(options or {})
        for b in blocks:
            if b.kind == "set":
                opts[b.key] = b.value
        self._job_opts = opts
        # CONNECTION blocks populate the connection tier of the option
        # chain (the reference configures destinations from connection
        # params merged under block WITH options — parser.go:558-587);
        # caller-injected connection_options win over script blocks
        for b in blocks:
            if b.kind == "connection":
                merged = dict(b.options)
                merged.update(self.connection_options.get(b.name.lower(), {}))
                self.connection_options[b.name.lower()] = merged
        # Slack alert hook activates off the merged options
        # (compiler.go:73-95 checkWrapLogger at execute entry)
        from analyst_spark.logging import maybe_wrap_slack

        self.logger = maybe_wrap_slack(self.logger, opts, self.slack_post_fn)
        # GLOBAL blocks run sequentially before everything else
        # (compiler.go:352-366)
        for b in blocks:
            if b.kind == "global":
                res.globals.run_global_block(b.body or "")
        for b in blocks:
            if b.kind == "declare":
                for p in b.declares:
                    # case-insensitive; duplicate DECLARE is an error
                    # (engine/parameters_test.go:16-20)
                    res.parameters.declare(p.lstrip("@"))

        order = _topo_order(
            [b for b in blocks if b.kind in
             ("query", "exec", "data", "transform", "test")]
        )
        # multiplexer analog (engine/multiplexer.go:10-65): a block
        # consumed by >1 downstream block is persisted so each
        # consumer's action replays cached partitions instead of
        # recomputing the producer's whole lineage
        fan_out: dict[str, int] = {}
        for b in order:
            for ref in b.sources:
                if ref.kind == "block" and ref.name:
                    fan_out[ref.name.lower()] = fan_out.get(ref.name.lower(), 0) + 1
        self._fan_out = fan_out
        from analyst_spark.logging import ERROR, INFO, WARNING, Event
        from analyst_spark.stopper import JobInterrupted

        # coordinator.go:277-413: context cancellation → Stop() →
        # rollback → ErrInterrupted. Tag every action this job launches
        # with a unique group so stop() can cancel in-flight stages.
        sc = self.spark.sparkContext
        job_group = None
        if self.stopper is not None:
            job_group = f"aql-{uuid.uuid4().hex[:12]}"
            sc.setJobGroup(job_group, "AQL job", interruptOnCancel=True)
            self.stopper.on_stop(
                lambda g=job_group: sc.cancelJobGroup(g)
            )
        try:
            for blk in order:
                if self.stopper is not None and self.stopper.stopped():
                    raise JobInterrupted("job stopped before block "
                                         f"{blk.name or blk.kind!r}")
                self.logger.log(Event(blk.name or blk.kind, INFO,
                                      f"{blk.kind} block started"))
                self._run_block(blk, res)
                self.logger.log(Event(blk.name or blk.kind, INFO,
                                      f"{blk.kind} block finished"))
        except Exception as e:
            self._close_connections(success=False)
            if (self.stopper is not None and self.stopper.stopped()
                    and not isinstance(e, JobInterrupted)):
                # a cancelled Spark action surfaces as a Py4J error;
                # report the interrupt, not the symptom
                self.logger.log(Event("Coordinator", WARNING,
                                      "job interrupted - aborting"))
                if self.tx_manager is not None:
                    self.tx_manager.rollback()
                raise JobInterrupted("job stopped") from e
            self.logger.log(Event(blk.name or blk.kind, ERROR, str(e)))
            if self.tx_manager is not None:
                self.tx_manager.rollback()
            raise
        finally:
            if job_group is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            for name, df in res.frames.items():
                if fan_out.get(name, 0) > 1:
                    df.unpersist()
        # the reference picks rollback-vs-commit off the stop flag at
        # job end even when no component errored
        if self.stopper is not None and self.stopper.stopped():
            self._close_connections(success=False)
            if self.tx_manager is not None:
                self.tx_manager.rollback()
            raise JobInterrupted("job stopped")
        # destination close analog (excel_dest.go:153-163): flush
        # accumulated multi-writer state (e.g. the shared Excel
        # workbook). Closes run BEFORE the transaction commit point —
        # in the reference a destination's close error fails the job
        # and rolls it back, so a failed workbook save must not leave
        # the staged SQL writes committed.
        try:
            self._close_connections(success=True)
        except Exception:
            if self.tx_manager is not None:
                self.tx_manager.rollback()
            raise
        if self.tx_manager is not None and not self.test_mode:
            self.tx_manager.commit()
        return res

    def _close_connections(self, success: bool) -> None:
        """Invoke any ``<name>.close`` connection handlers. Handlers
        are lazily built, so only connections actually touched this
        run have one; each is responsible for being idempotent. On
        the failure path closes are best-effort — a cleanup error
        must not mask the exception that failed the job."""
        first_err: Exception | None = None
        for key, fn in list(self.connections.items()):
            if key.endswith(".close") and callable(fn):
                if success and first_err is None:
                    try:
                        fn(True)
                    except Exception as exc:
                        # Keep closing: the remaining handlers must
                        # still run (as discards) or their paths stay
                        # registered in the process-wide FILE_MANAGER
                        # and leak stale cells into later jobs.
                        first_err = exc
                else:
                    try:
                        fn(False)
                    except Exception:
                        pass
        if first_err is not None:
            raise first_err

    def _run_block(self, blk: Block, res: JobResult) -> None:
        _check_multisource_order(blk)
        if blk.kind == "test":
            if self.test_mode:
                target = blk.sources[0].name
                check_assertions(
                    target, res.frames[target.lower()], blk.assertions_body
                )
            return
        if blk.kind == "exec":
            if self.test_mode:
                return  # neutralized (compiler.go:34-39)
            # USING PARAMETER binds on EXEC exactly as on QUERY — the
            # reference's SQLSource substitutes params BEFORE the
            # ExecOnly branch (sql_source.go:68-81 vs :137); r7 fix:
            # the engine silently dropped exec-block params
            body = blk.body or ""
            if body and blk.using_params:
                body = _bind_params(body, blk.using_params, res.parameters)
            for ref in blk.sources:
                if ref.kind == "global":
                    res.globals.run_global_block(body)
                elif ref.kind == "connection":
                    fn = self._connection_handler(f"{ref.name.lower()}.exec")
                    if fn is None:
                        raise ValueError(
                            f"no exec handler for connection {ref.name!r}"
                        )
                    fn(body, blk.options)
            return
        if blk.kind == "data":
            cols = [c.strip() for c in str(blk.options.get("COLUMNS", "")).split(",") if c.strip()]
            fmt = str(blk.options.get("FORMAT", "JSON_ARRAY"))
            df = literal_source(self.spark, blk.body, cols, fmt)
        elif blk.kind == "query":
            df = self._source_frame(blk, res)
        elif blk.kind == "transform":
            df = self._run_transform(blk, res)
        else:
            raise ValueError(f"unexpected block kind {blk.kind}")

        if getattr(self, "_fan_out", {}).get(blk.name.lower(), 0) > 1:
            df = df.persist()
        res.frames[blk.name.lower()] = df
        self._run_sinks(blk, df, res)

    def _run_transform(self, blk: Block, res: JobResult) -> DataFrame:
        if blk.plugin:
            fn = self.plugins.get(blk.name.lower())
            if fn is not None:
                inputs = [self._ref_frame(r, blk, res) for r in blk.sources]
                return fn(self.spark, inputs, blk.options)
            exe = blk.options.get("EXECUTABLE")
            if exe:
                # subprocess JSON-RPC plugin, the reference's protocol
                # (WITH Executable/Args — compiler_test.go:557-607)
                import json as _json

                from analyst_spark.plugins_rpc import run_transform_plugin

                args = _json.loads(str(blk.options.get("ARGS", "[]")))
                named = {}
                for r in blk.sources:
                    named[(r.alias or r.name or "global")] = (
                        self._ref_frame(r, blk, res)
                    )
                outs = run_transform_plugin(
                    self.spark, named, str(exe), args, blk.options
                )
                frames = list(outs.values())
                out = frames[0]
                for f in frames[1:]:
                    out = out.unionByName(f, allowMissingColumns=True)
                return out
            raise ValueError(f"no plugin registered: {blk.name!r}")
        kind = dispatch(blk.body)
        if kind in ("AGGREGATE", "APPLY", "DEDUP"):
            frames = [self._ref_frame(r, blk, res) for r in blk.sources]
            src = frames[0]
            for f in frames[1:]:
                src = src.unionByName(f, allowMissingColumns=True)
            if kind == "DEDUP":
                from analyst_spark.aql.transforms_parser import (
                    build_dedup,
                    parse_dedup,
                )

                return build_dedup(src, parse_dedup(blk.body))
            return (
                build_aggregate(src, blk.body)
                if kind == "AGGREGATE"
                else build_apply(src, blk.body)
            )
        # LOOKUP / ASOF: two sources resolved by name
        frames = {}
        for ref in blk.sources:
            name = (ref.alias or ref.name or "global").lower()
            frames[name] = self._ref_frame(ref, blk, res)
        if kind == "ASOF":
            from analyst_spark.aql.transforms_parser import build_asof, parse_asof

            aspec = parse_asof(blk.body)
            base = frames.get(aspec.base.lower())
            right = frames.get(aspec.right.lower())
            if base is None or right is None:
                raise ValueError(
                    f"ASOF sides {aspec.base!r}/{aspec.right!r} not among sources"
                )
            return build_asof(base, right, aspec)
        spec = parse_lookup(blk.body)
        base = frames.get(spec.base.lower())
        lookup = frames.get(spec.lookup.lower())
        if base is None or lookup is None:
            raise ValueError(
                f"LOOKUP sides {spec.base!r}/{spec.lookup!r} not among sources"
            )
        # order column for last-wins dedup of duplicate lookup keys:
        # Python-API injection wins, else the script's WITH
        # (ORDER_BY = 'col') — reference scripts control it without
        # touching Python (engine/lookup.go last-wins over the scan
        # order; here the order must be an explicit column because a
        # distributed scan has no stable arrival order)
        order_col = self.lookup_order_cols.get(blk.name.lower())
        if order_col is None:
            ob = blk.options.get("ORDER_BY")
            order_col = str(ob) if ob else None
        return build_lookup(base, lookup, spec, order_col=order_col)

    def _ref_frame(self, ref, blk: Block, res: JobResult) -> DataFrame:
        if ref.kind == "block":
            return res.frames[ref.name.lower()]
        if ref.kind == "global":
            table = str(blk.options.get("TABLE", ""))
            if not table:
                raise ValueError(
                    "FROM GLOBAL in a transform needs WITH (TABLE='t')"
                )
            return res.globals.get(table)
        if ref.kind == "connection":
            fn = self.connections.get(ref.name.lower())
            return fn(self.spark, blk.options)
        raise ValueError(f"unsupported source kind {ref.kind}")

    def _effective_options(self, blk: Block, namespace: str) -> dict:
        """Every option visible to one destination, resolved through
        the reference's precedence chain — block > connection > CLI >
        SET — trying the ``{NAMESPACE}_{OPT}`` destination-specific
        key before the generic key at each level
        (aql/parser.go:558-587 FindOverridableOption)."""
        ns = (namespace or "").upper()
        levels = (
            blk.options,
            self.connection_options.get((namespace or "").lower(), {}),
            {str(k).upper(): v for k, v in self._job_opts.items()},
        )
        needles = set()
        for lv in levels:
            for k in lv:
                key = str(k).upper()
                if ns and key.startswith(ns + "_"):
                    key = key[len(ns) + 1 :]
                needles.add(key)
        out = {}
        for needle in needles:
            v, ok = find_overridable_option(needle, ns, *levels)
            if ok:
                out[needle] = v
        return out

    def _run_sinks(self, blk: Block, df: DataFrame, res: JobResult) -> None:
        for sink in blk.sinks:
            if self.test_mode:
                devnull_sink(df)
                continue
            if sink.kind == "console":
                eff = self._effective_options(blk, "CONSOLE")
                fmt = str(eff.get("OUTPUT_FORMAT") or "table")
                res.console.append(console_sink(df, fmt, writer=_Null()))
            elif sink.kind == "global":
                # TABLE resolves through the full option chain so a
                # script-level SET can name the target, as the
                # reference's mergeOptions allows (compiler_test.go
                # TestCompilerWithAggregateTransform: SET Table +
                # bare INTO GLOBAL)
                eff = self._effective_options(blk, "GLOBAL")
                table = str(eff.get("TABLE") or blk.name)
                res.globals.register(table, df)
            elif sink.kind == "parameter":
                parameter_sink(df, sink.params, res.parameters)
            elif sink.kind == "connection":
                fn = self._connection_handler(f"{sink.name.lower()}.write")
                if fn is None:
                    raise ValueError(
                        f"no write handler for connection {sink.name!r}"
                    )
                fn(df, self._effective_options(blk, sink.name))
            elif sink.kind == "block":
                # the reference rejects BLOCK destinations outright
                # (compiler.go:1366-1368) — same diagnostic here
                raise ValueError(
                    "BLOCK destinations are not allowed because they "
                    f"create non-deterministic source orders: {blk.name}"
                )
            else:
                raise ValueError(f"unsupported sink {sink.kind}")


class _Null:
    def write(self, s):
        return len(s)


def execute_script(
    spark: SparkSession,
    script: str,
    options: dict | None = None,
    script_dir: str = ".",
    connections=None,
    plugins=None,
    lookup_order_cols=None,
    tx_manager=None,
    connection_options=None,
    logger=None,
    slack_post_fn=None,
    stopper=None,
    views=None,
) -> JobResult:
    merged = dict(options or {})
    # First parse only harvests SET blocks — no template rendering yet,
    # or a SET-defined {{ .Var }} would KeyError before the merge.
    blocks = parse_script(script, script_dir, None)
    # SET statements merge under CLI params (compiler.go:239-268:
    # script SET beats CLI)
    for b in blocks:
        if b.kind == "set":
            merged[b.key] = b.value
    blocks = parse_script(script, script_dir, merged or None)
    ex = Executor(
        spark, test_mode=False, connections=connections, plugins=plugins,
        lookup_order_cols=lookup_order_cols, tx_manager=tx_manager,
        connection_options=connection_options, logger=logger,
        slack_post_fn=slack_post_fn, stopper=stopper, views=views,
    )
    return ex.run(blocks, merged)


def validate_script(
    script: str,
    options: dict | None = None,
    script_dir: str = ".",
) -> int:
    """Compile-only validation — the ``analyst validate`` /
    websocket COMPILE analog (compiler.go:317-326 ValidateString,
    which runs the compiler with compileOnly=true: parse, build the
    DAG, resolve references, execute nothing).

    Checks, Spark-free: grammar + includes + templating (via
    parse_script), SET/CLI option merge, FROM BLOCK / AFTER
    references resolve to declared blocks, and the job graph is
    acyclic. Returns the number of blocks; raises ValueError on any
    compile error.
    """
    merged = dict(options or {})
    blocks = parse_script(script, script_dir, None)
    for b in blocks:
        if b.kind == "set":
            merged[b.key] = b.value
    blocks = parse_script(script, script_dir, merged or None)
    executable = [
        b for b in blocks if b.kind in ("query", "exec", "data", "transform", "test")
    ]
    named = {b.name.lower() for b in executable if b.name}
    for b in executable:
        _check_multisource_order(b)
        for ref in b.sources:
            if ref.kind == "block" and ref.name and ref.name.lower() not in named:
                raise ValueError(
                    f"block {b.name!r} references undeclared block {ref.name!r}"
                )
        for name in b.after:
            if name.lower() not in named:
                raise ValueError(
                    f"block {b.name!r} AFTER references undeclared block {name!r}"
                )
    # Every job path must terminate on a destination: a QUERY/
    # TRANSFORM/DATA block with no INTO and no downstream consumer is
    # a compile error (coordinator_test.go:32-53
    # TestCoordinatorInvalidTermination; coordinator.go Compile).
    consumed = {
        ref.name.lower()
        for b in executable
        for ref in b.sources
        if ref.kind == "block" and ref.name
    }
    for b in executable:
        if (
            b.kind in ("query", "transform", "data")
            and not b.sinks
            and (b.name or "").lower() not in consumed
        ):
            raise ValueError(
                f"block {b.name!r} terminates on a non-destination "
                "(no INTO and no consumer)"
            )
    _topo_order(executable)
    return len(blocks)


def test_script(
    spark: SparkSession,
    script: str,
    options: dict | None = None,
    script_dir: str = ".",
    connections=None,
    plugins=None,
) -> JobResult:
    """`analyst test` mode: destinations neutralized, EXECs skipped,
    TEST assertions enforced (compiler.go:293-303)."""
    merged = dict(options or {})
    blocks = parse_script(script, script_dir, None)
    for b in blocks:
        if b.kind == "set":
            merged[b.key] = b.value
    blocks = parse_script(script, script_dir, merged or None)
    ex = Executor(spark, test_mode=True, connections=connections, plugins=plugins)
    return ex.run(blocks, merged)
