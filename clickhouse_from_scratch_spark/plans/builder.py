"""Plan builder: lower the dialect AST onto DataFrame operations.

This is the stage the reference never built (its ``executeQuery`` stops at
an AST dump — ``src/Interpreters/executeQuery.cpp:442-468``); the lowering
targets Spark so Catalyst supplies analysis/optimization:

- expressions   → ``Column`` trees via the function registry (§2.10)
- joins         → native Spark joins; ANY/ASOF via operators/*
- GROUP BY      → groupBy/rollup/cube (+ TOTALS as a grouping-sets union)
- ORDER/LIMIT   → orderBy/limit; LIMIT BY / WITH TIES / WITH FILL via
                  operators/*
- CH alias visibility (aliases usable in WHERE/GROUP BY/HAVING) → alias
  inlining before evaluation (SURVEY §4.2)
"""

from __future__ import annotations

import os
import re as _re_mod
from collections import ChainMap
from collections.abc import Mapping
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import REGISTRY, ch
from ..functions.aggregates import AGGREGATES, resolve_aggregate
from ..functions.typemap import (
    CH_NUMERIC, arithmetic_result_type, ch_literal_type, ch_type_to_spark,
    least_supertype, negate_result_type, spark_type_to_ch,
    spark_type_to_ch_numeric,
    NoCommonTypeError,
)
from ..operators import (
    any_join, array_join, asof_join, final, join_with_defaults, limit_by,
    limit_with_ties, sample_by_key, with_fill, with_fill_multi,
)
from .ast_nodes import (
    Alias, ArrayJoinClause, ArrayLiteral, Cast, FuncCall, GroupBy,
    Identifier, IntervalExpr, Join, Lambda, LimitBy, Literal, OrderItem,
    QueryParameter, SelectQuery, Star, Subquery, SubqueryRef, TableFunction,
    TableRef, TupleLiteral, UnionQuery, WindowSpec, format_node,
)

_AGG_NAMES = set(AGGREGATES) | {n + "If" for n in AGGREGATES} | {
    "count", "countIf", "countDistinct", "sumMap", "minMap", "maxMap",
    "grouping", "GROUPING"}


def _is_agg_name(name: str) -> bool:
    """Aggregate detection incl. combinator chains (sumArrayIf,
    countResample, anyState, ...) via aggregates.resolve_aggregate."""
    if name in _AGG_NAMES:
        return True
    if name.endswith("Resample"):
        return resolve_aggregate(name[: -len("Resample")]) is not None
    return resolve_aggregate(name) is not None

_WINDOW_FNS = {
    "row_number": lambda: F.row_number(),
    "rank": lambda: F.rank(),
    "dense_rank": lambda: F.dense_rank(),
    "percent_rank": lambda: F.percent_rank(),
    "ntile": lambda n: F.ntile(n),
    "cume_dist": lambda: F.cume_dist(),
}
_WINDOW_VALUE_FNS = {"lag": F.lag, "lead": F.lead,
                     "first_value": lambda c: F.first(c, ignorenulls=False),
                     "last_value": lambda c: F.last(c, ignorenulls=False),
                     "nth_value": F.nth_value, "nthValue": F.nth_value}


class BuildError(ValueError):
    pass


class QueryLimitExceeded(BuildError):
    """A max_rows_* resource limit was exceeded with overflow mode
    'throw' (CH error TOO_MANY_ROWS; knobs at
    /root/reference/src/Core/Settings.h:280,288-289,299,345)."""


def _limit_setting(ctx: "Context", key: str) -> int | None:
    """Numeric limit knob; CH treats 0 (the default) as unlimited."""
    v = ctx.settings.get(key)
    if v is None:
        return None
    n = int(str(v).strip("'\""))
    return n if n > 0 else None


def _overflow_mode(ctx: "Context", key: str,
                   allowed: tuple = ("throw", "break")) -> str:
    """Overflow-mode knob paired with a max_rows_* limit. Unsupported
    modes (e.g. group_by_overflow_mode='any', which keeps aggregating
    only already-seen keys — not expressible without a custom Spark
    aggregation mode) raise instead of silently degrading."""
    m = str(ctx.settings.get(key, "throw")).strip("'\"").lower()
    if m not in allowed:
        raise BuildError(
            f"{key}={m!r} is not supported (supported: {allowed})")
    return m


def _enforce_row_cap(df: DataFrame, cap: int, mode: str,
                     what: str) -> DataFrame:
    """Apply a row-count resource limit. 'break' truncates (CH returns a
    partial result); 'throw' runs ONE bounded job — limit(cap+1) is a
    CollectLimit that short-circuits the scan, so the check costs O(cap)
    rows, not a full pass."""
    if mode == "break":
        return df.limit(cap)
    if df.limit(cap + 1).count() > cap:
        raise QueryLimitExceeded(
            f"{what}: more than {cap} rows (TOO_MANY_ROWS; set the "
            f"overflow mode to 'break' for a truncated partial result)")
    return df


@dataclass
class Context:
    spark: SparkSession
    # CTE and alias registrations go into the front map of this chain,
    # so a scope never copies (or builds) the entries behind it
    tables: Mapping[str, DataFrame]
    aliases: dict[str, object] = field(default_factory=dict)   # name → AST
    lambda_params: dict[str, Column] = field(default_factory=dict)
    columns: list[str] = field(default_factory=list)
    agg_slots: dict[str, Column] | None = None   # filled during agg planning
    key_slots: dict[str, str] | None = None      # ast-repr → column name
    engines: dict[str, dict] = field(default_factory=dict)  # FINAL metadata
    windows: dict[str, "WindowSpec"] = field(default_factory=dict)  # WINDOW w AS
    params: dict[str, object] = field(default_factory=dict)  # {name:Type} binds
    settings: dict[str, object] = field(default_factory=dict)  # SET k=v
    # row bound a LIMIT clause proves for the current SELECT's scan; lets
    # system.numbers (unbounded in CH) materialize exactly LIMIT+OFFSET
    # rows instead of truncating silently. None = no safe bound.
    numbers_bound: int | None = None
    # column name → declared CH type, from DDL engine metadata; lets the
    # numeric-promotion layer see true unsigned types that Spark's signed
    # schema can't represent (UInt8 is stored as smallint)
    ch_types: dict[str, str] = field(default_factory=dict)
    # SQL lambda UDFs: name → Lambda AST (CREATE FUNCTION)
    udfs: dict[str, object] = field(default_factory=dict)
    # parameterized views: name → view AST, bound at v(p = x) call
    # sites (CH parameterized-view surface)
    view_asts: dict[str, object] = field(default_factory=dict)
    # table aliases whose Spark qualification was FLATTENED by a
    # non-native join lowering (ASOF union+window): `t1.qty` written
    # against them resolves to the bare output column instead
    flat_qualifiers: set[str] = field(default_factory=set)
    # (qualifier, column) → post-flattening name for columns the ASOF
    # union+window lowering suffix-renamed (right-side collisions)
    flat_renames: dict = field(default_factory=dict)
    # MATERIALIZED / ALIAS columns of scanned tables: selectable by
    # name but excluded from `*` expansion (CH visibility contract)
    hidden_columns: set = field(default_factory=set)
    # lambda parameter name → Spark DataType of the element it binds,
    # filled by _hof_call from the HOF's array-argument schema. Lets
    # type-dispatched functions (length, tupleElement, round, toString,
    # date_trunc, …) resolve inside lambda bodies, where a df.select
    # schema probe would throw (the param only exists inside the HOF).
    lambda_param_types: dict = field(default_factory=dict)
    # max_rows_to_read meter, shared across the whole query tree:
    # {"rows": cumulative rows read, "cache": id(df) → row count} — the
    # cache keeps repeated scans of the same registered table to one
    # counting job (only active when the knob is set)
    read_meter: dict = field(default_factory=lambda: {"rows": 0,
                                                      "cache": {}})
    # CREATE DICTIONARY lookups: name → provider with .maps()/.key_type/
    # .attr_ch_type()/.attr_default() (duck-typed; lives in ddl.DictMeta)
    dictionaries: dict[str, object] = field(default_factory=dict)

    def __post_init__(self):
        if not isinstance(self.tables, ChainMap):
            self.tables = ChainMap(self.tables)

    def child(self) -> "Context":
        return Context(self.spark, self.tables.new_child(),
                       dict(self.aliases),
                       engines=self.engines, params=self.params,
                       settings=self.settings, udfs=self.udfs,
                       dictionaries=self.dictionaries,
                       view_asts=self.view_asts,
                       read_meter=self.read_meter)


# settings the engine implements ONLY at their CH-default value: the
# default behavior is hard-coded into the lowering (transform_null_in=0
# NULL semantics, positional GROUP BY keys on, decimal trailing zeros
# trimmed), so a SET/SETTINGS to any other value must raise a NAMED
# error rather than be silently advertised as changed and ignored
_PINNED_AT_DEFAULT: dict[str, str] = {
    "transform_null_in": "0",
    "enable_positional_arguments": "1",
    "output_format_decimal_trailing_zeros": "0",
    # behavior-bearing settings the engine does NOT implement at any
    # non-default value — a SET must raise, never silently no-op
    # (references are Settings.h lines)
    "any_join_distinct_right_table_keys": "0",       # :227 (legacy ANY)
    "empty_result_for_aggregation_by_empty_set": "0",  # :259
    "prefer_column_name_to_alias": "0",              # :269
    "normalize_function_names": "1",                 # :434
    "cast_keep_nullable": "0",                       # :450
    "aggregate_functions_null_for_empty": "0",       # :459
    "legacy_column_name_of_tuple_literal": "0",      # :494
    "format_regexp_escaping_rule": "raw",            # :628 (Raw only)
}


def check_pinned_settings(settings: dict) -> None:
    """Validate the session/query settings dict: every name must exist
    in the reference's settings namespace (UNKNOWN_SETTING otherwise,
    mirroring BaseSettings::set), and a setting whose default is the
    only implemented behavior must be AT that default (honesty
    contract: never a silent no-op)."""
    from ..settings_namespace import KNOWN_SETTINGS
    from ..ddl import _SETTING_DEFAULTS
    for k in settings:
        if k not in KNOWN_SETTINGS and k not in _SETTING_DEFAULTS:
            raise BuildError(
                f"unknown setting {k!r} (UNKNOWN_SETTING)")
    for k, dflt in _PINNED_AT_DEFAULT.items():
        if k in settings:
            v = str(settings[k]).strip("'\"").lower()
            v = {"true": "1", "false": "0"}.get(v, v)
            if v != dflt:
                raise BuildError(
                    f"setting {k} = {settings[k]} is not supported at a "
                    f"non-default value (the engine implements only the "
                    f"default {dflt})")


def build(spark: SparkSession, q: SelectQuery | UnionQuery,
          tables: Mapping[str, DataFrame],
          engines: dict[str, dict] | None = None,
          params: dict[str, object] | None = None,
          settings: dict[str, object] | None = None,
          udfs: dict[str, object] | None = None,
          dictionaries: dict[str, object] | None = None,
          views: dict[str, object] | None = None) -> DataFrame:
    ctx = Context(spark, ChainMap({}, tables), engines=engines or {},
                  params=params or {}, settings=settings or {},
                  udfs=udfs or {}, dictionaries=dictionaries or {},
                  view_asts=views or {})
    out = _build_query(q, ctx)
    # max_result_rows (Settings.h:299) applies to the final result only;
    # a trailing SETTINGS suffix parses onto the (last) SELECT, so merge
    # it before reading the knob
    qset = getattr(q, "settings", None) or (
        getattr(q.selects[-1], "settings", None)
        if isinstance(q, UnionQuery) else None)
    if qset:
        ctx.settings = {**ctx.settings, **qset}
    check_pinned_settings(ctx.settings)
    # the limit/offset SETTINGS (Settings.h:501-502) apply to the final
    # result, on top of any LIMIT/OFFSET clauses the query itself has.
    # They slice the MAIN rows only — the WITH TOTALS / extremes blocks
    # are separate blocks in the reference's output, never counted or
    # truncated by limit/offset — so peel the main rows off, slice, and
    # re-attach the block metadata.
    s_off = _limit_setting(ctx, "offset")
    s_lim = _limit_setting(ctx, "limit")
    cap = _limit_setting(ctx, "max_result_rows")
    if s_off is None and s_lim is None and cap is None:
        return out
    tot_df = getattr(out, "_ch_totals_df", None)
    ext_df = getattr(out, "_ch_extremes_df", None)
    u8 = getattr(out, "_ch_uint8_cols", None)
    main = getattr(out, "_ch_main_df", out)
    if s_off is not None:
        main = main.offset(s_off)
    if s_lim is not None:
        main = main.limit(s_lim)
    if cap is not None:
        main = _enforce_row_cap(
            main, cap, _overflow_mode(ctx, "result_overflow_mode"),
            "max_result_rows")
    out = main
    if tot_df is not None:
        out = main.unionByName(tot_df)
        out._ch_main_df = main
        out._ch_totals_df = tot_df
    if ext_df is not None:
        out._ch_extremes_df = ext_df
    if u8:
        out._ch_uint8_cols = u8
    return out


def _setop_filter(left: DataFrame, right: DataFrame,
                  anti: bool) -> DataFrame:
    """CH INTERSECT / EXCEPT (default = ALL): hash-set filter of the
    left input against the right — every left row whose full tuple
    [does not] appear in the right survives, preserving left-side
    multiplicity (docs: "the result can contain duplicate rows";
    NOT the SQL-standard multiset-min). Lowered as a null-safe
    left-semi/anti join on all columns — one shuffle, right side
    deduped by the join build, AQE free to broadcast a small right."""
    l, r = left.alias("__setl"), right.alias("__setr")
    cond = None
    for c in left.columns:
        e = F.col(f"__setl.`{c}`").eqNullSafe(F.col(f"__setr.`{c}`"))
        cond = e if cond is None else cond & e
    return l.join(r, cond, "left_anti" if anti else "left_semi")


def _build_query(q, ctx: Context) -> DataFrame:
    if isinstance(q, UnionQuery):
        # The reference parses a FLAT select list + mode vector
        # (ExpressionListParsers.cpp:120-183, SelectUnionMode.h:8-15);
        # published CH applies precedence in interpreter normalization:
        # INTERSECT binds TIGHTER than UNION/EXCEPT (which fold left-to-
        # right among themselves). `1 UNION ALL 2 INTERSECT 2` is
        # 1 ∪ (2∩2) = {1,2}, not (1∪2)∩2. Group maximal runs of
        # INTERSECT arms into sub-chains first, then fold the outer ops.
        # a WITH clause before the first arm scopes over the WHOLE
        # union statement (CH: every arm sees the CTEs)
        first_sel = q.selects[0]
        if isinstance(first_sel, SelectQuery) and first_sel.ctes:
            ctx = ctx.child()
            for cte_name, cte_node in first_sel.ctes:
                if isinstance(cte_node, (SelectQuery, UnionQuery)):
                    if cte_name not in ctx.tables:
                        ctx.tables[cte_name] = _build_query(cte_node, ctx)
                else:
                    ctx.aliases.setdefault(cte_name, cte_node)
        # bare UNION (parsed mode "") resolves from union_default_mode
        # (Settings.h:491): 'ALL'/'DISTINCT' pick the mode; the default
        # empty string makes a bare UNION an error, as the reference
        # documents — never a silent ALL
        eff_settings = dict(ctx.settings)
        last_sel = q.selects[-1]
        if isinstance(last_sel, SelectQuery) and last_sel.settings:
            # a trailing SETTINGS suffix parses onto the last arm but
            # scopes over the whole union statement
            eff_settings.update(last_sel.settings)
        modes = []
        for mode in q.modes:
            if mode == "":
                dflt = str(eff_settings.get("union_default_mode", "")) \
                    .strip("'\"").lower()
                if dflt not in ("all", "distinct"):
                    raise BuildError(
                        "UNION without ALL or DISTINCT and empty "
                        "union_default_mode — write UNION ALL/DISTINCT "
                        "or SET union_default_mode "
                        "(EXPECTED_ALL_OR_DISTINCT)")
                mode = dflt
            modes.append(mode)
        groups: list[list[tuple[str | None, object]]] = \
            [[(None, q.selects[0])]]
        for mode, sel in zip(modes, q.selects[1:]):
            if mode in ("intersect", "intersect_all"):
                groups[-1].append((mode, sel))
            else:
                groups.append([(mode, sel)])

        first = _build_query(groups[0][0][1], ctx)
        # CH set ops are positional; result names come from the first
        # SELECT (SelectUnionMode semantics)
        cols = first.columns

        def _align(df: DataFrame) -> DataFrame:
            if len(df.columns) != len(cols):
                raise BuildError("UNION branches have different column "
                                 "counts")
            return df.toDF(*cols)

        def _chain(head: DataFrame, rest) -> DataFrame:
            out = head
            for m, sel in rest:
                nxt = _align(_build_query(sel, ctx))
                out = (out.intersect(nxt) if m == "intersect"
                       else _setop_filter(out, nxt, anti=False))
            return out

        out = _chain(first, groups[0][1:])
        for grp in groups[1:]:
            outer, head_sel = grp[0]
            nxt = _chain(_align(_build_query(head_sel, ctx)), grp[1:])
            if outer == "all":
                out = out.union(nxt)
            elif outer == "distinct":
                out = out.union(nxt).distinct()
            elif outer == "except":
                out = out.subtract(nxt)
            elif outer == "except_all":
                out = _setop_filter(out, nxt, anti=True)
        return out
    return _build_select(q, ctx)


# --- SELECT pipeline --------------------------------------------------------

def _build_select(q: SelectQuery, ctx: Context) -> DataFrame:
    ctx = ctx.child()
    ctx.windows = dict(q.windows)
    if q.settings:
        # query-level SETTINGS suffix overrides session SET values
        ctx.settings = {**ctx.settings, **q.settings}
        check_pinned_settings(ctx.settings)
    # WITH elements: subqueries become visible tables, scalar exprs become
    # aliases usable anywhere (CH scalar-WITH visibility)
    for name, node in q.ctes:
        if isinstance(node, (SelectQuery, UnionQuery)):
            ctx.tables[name] = _build_query(node, ctx)
        else:
            ctx.aliases[name] = node

    # A LIMIT bounds the system.numbers scan to LIMIT+OFFSET rows, but
    # only when no clause between the scan and the LIMIT drops rows —
    # with a WHERE, CH streams the infinite table until the LIMIT is
    # satisfied, and that scan size is unknowable up front (we refuse
    # instead). For aggregates/windows/ORDER BY, real CH never
    # terminates at all; bounding the scan (≡ numbers(LIMIT+OFFSET)) is
    # the only terminating reading, and is documented as a deviation.
    ctx.numbers_bound = None
    if (q.limit is not None and q.where is None and q.prewhere is None
            and q.having is None and not q.distinct
            and q.limit_by is None and q.array_join is None):
        ctx.numbers_bound = q.limit + (q.offset or 0)
    elif q.where is not None or q.prewhere is not None:
        # WHERE number < N (a conjunct) also proves a finite scan: CH
        # streams the infinite table but the predicate caps which rows
        # can ever pass, so materializing exactly N rows is exact. The
        # filter itself still applies afterwards.
        wb = [b for pred in (q.where, q.prewhere) if pred is not None
              for b in [_numbers_where_bound(pred)] if b is not None]
        if wb:
            ctx.numbers_bound = min(wb)

    # FROM
    if q.from_ is None:
        df = ctx.spark.range(1).select(F.lit(1).alias("dummy"))
    else:
        df = _build_from(q.from_, ctx)
    ctx.columns = list(df.columns)

    # expand column-set stars (COLUMNS / EXCEPT / REPLACE / APPLY) into
    # concrete select items so aggregation/projection logic is uniform
    q = _expand_stars(q, ctx)

    # select-list aliases join the alias map (visible in WHERE/GROUP/HAVING)
    for item in q.select:
        _register_aliases(item, ctx)
    for extra in (q.where, q.prewhere, q.having):
        if extra is not None:
            _register_aliases(extra, ctx)

    if q.array_join is not None:
        df = _apply_array_join(df, q.array_join, ctx)
        ctx.columns = list(df.columns)

    deferred_preds = []
    for pred in (q.prewhere, q.where):
        if pred is not None:
            if _contains_array_join_call(_inline(pred, ctx)):
                # WHERE referencing an arrayJoin result (directly or via
                # its alias) filters AFTER the expansion in CH — defer
                # until the hoist has exploded the hidden column
                deferred_preds.append(pred)
            else:
                df = _apply_where(df, pred, ctx)

    if any(_contains_expr_subquery(it) for it in q.select):
        # SELECT-list subqueries (IN / EXISTS / correlated scalar): lower
        # to marker or groupBy+left joins before projection/aggregation
        # so membership and per-key scalars stay distributed. In an
        # aggregating outer query only the IN rewrite applies (a fresh
        # join column can't appear ungrouped).
        import copy
        outer_has_agg = (q.group_by is not None
                         or any(_contains_agg(it) for it in q.select)
                         or (q.having is not None
                             and _contains_agg(q.having)))
        q = copy.copy(q)
        drops: list[str] = []
        new_select = []
        for item in q.select:
            df, item = _lower_in_subqueries(df, item, ctx, drops,
                                            scalar_ok=not outer_has_agg)
            new_select.append(item)
        q.select = new_select
        ctx.columns = list(df.columns)

    if any(_contains_groups_frame(it, ctx) for it in q.select):
        q, df = _lower_groups_frames(q, df, ctx)
        ctx.columns = list(df.columns)

    if df is not None:
        q, df, deferred_preds = _hoist_nested_array_joins(
            q, df, ctx, deferred_preds)
        for pred in deferred_preds:
            df = _apply_where(df, pred, ctx)

    has_agg = (q.group_by is not None
               or any(_contains_agg(it) for it in q.select)
               or (q.having is not None and _contains_agg(q.having)))
    final_names: list[str] | None = None
    tot_df = None
    tot_names: list[str] | None = None
    if has_agg:
        df, final_names = _apply_aggregate(df, q, ctx)
        if "__totals" in df.columns:
            # WITH TOTALS: detach the totals block here so ORDER BY /
            # DISTINCT / WITH FILL / LIMIT apply to the MAIN rows only;
            # the block is re-appended LAST (CH emits totals as a
            # separate block after the sorted, limited result). The
            # marker is a literal, so Catalyst prunes each branch to
            # its own union child — no double aggregation.
            mk = F.col("__totals")
            tot_df = df.filter(mk == 1).drop("__totals")
            df = df.filter(mk == 0).drop("__totals")
            tot_names = list(final_names) if final_names else None
    else:
        if q.having is not None:
            raise BuildError("HAVING without aggregation")
        # project select items but keep source columns visible so ORDER BY
        # / LIMIT BY may reference them (CH allows ordering by non-selected
        # columns); they are dropped after ordering
        df, final_names = _apply_projection_keep(df, q.select, ctx)

    if q.qualify is not None:
        # QUALIFY: filter on a window-function predicate, evaluated
        # after the projection (CH applies it over the SELECT's window
        # results, before DISTINCT / ORDER BY). Spark rejects window
        # functions inside filter(), so materialize the predicate as a
        # column first — Catalyst collapses the projection afterwards.
        qc = _post_expr(q.qualify, df, ctx)
        df = (df.withColumn("__ch_qualify", qc)
              .filter(F.coalesce(F.col("__ch_qualify").cast("boolean"),
                                 F.lit(False)))
              .drop("__ch_qualify"))

    if q.distinct:
        if final_names is not None:
            df = df.select(*[_name_col(n).alias(_out_name(n))
                             for n in final_names])
            final_names = None
        df = df.distinct()
        cap = _limit_setting(ctx, "max_rows_in_distinct")
        if cap is not None:            # Settings.h:345
            df = _enforce_row_cap(
                df, cap, _overflow_mode(ctx, "distinct_overflow_mode"),
                "max_rows_in_distinct")

    if q.order_by:
        cap = _limit_setting(ctx, "max_rows_to_sort")
        if cap is not None:            # Settings.h:292
            df = _enforce_row_cap(
                df, cap, _overflow_mode(ctx, "sort_overflow_mode"),
                "max_rows_to_sort")
    order_cols = [_order_col(df, it, ctx) for it in q.order_by]
    fill_items = [it for it in q.order_by if it.with_fill]
    if q.limit_by is not None:
        keys = [_post_expr(e, df, ctx) for e in q.limit_by.exprs]
        order = order_cols or [_name_col(c) for c in df.columns]
        df = limit_by(df, keys, order, q.limit_by.n, q.limit_by.offset)
    if order_cols:
        if q.with_ties and q.limit is not None:
            bare = [_order_bare(df, it, ctx) for it in q.order_by]
            df = limit_with_ties(
                df, bare, q.limit,
                descending=[bool(it.desc) for it in q.order_by],
                nulls_first=[it.nulls_first for it in q.order_by])
            df = df.orderBy(*order_cols)
            q = _clone_limits(q)
        else:
            df = df.orderBy(*order_cols)
    if final_names is not None:
        df = df.select(*[_name_col(n).alias(_out_name(n))
                         for n in final_names])
    if fill_items:
        names = [_fill_col_name(it, df) for it in fill_items]
        # CH infers missing bounds from the data's min/max; ONE extra
        # column-pruned agg job covers every fill column
        need_bounds = [n for it, n in zip(fill_items, names)
                       if it.fill_from is None or it.fill_to is None]
        inferred: dict[str, tuple] = {}
        if need_bounds:
            row = df.agg(*[f(n) for n in need_bounds
                           for f in (F.min, F.max)]).collect()[0]
            inferred = {n: (row[2 * i], row[2 * i + 1])
                        for i, n in enumerate(need_bounds)}
        specs = []
        for it, name in zip(fill_items, names):
            start = (_post_expr(it.fill_from, df, ctx)
                     if it.fill_from is not None else None)
            stop = (_post_expr(it.fill_to, df, ctx)
                    if it.fill_to is not None else None)
            if start is None or stop is None:
                lo, hi = inferred[name]
                if lo is None:          # empty input: nothing to fill
                    specs = []
                    break
                if _is_negative_step(it.fill_step):
                    lo, hi = hi, lo     # descending fill: max → min
                start = start if start is not None else F.lit(lo)
                stop = stop if stop is not None else F.lit(hi)
            if it.fill_step is not None:
                step = _post_expr(it.fill_step, df, ctx)
            else:
                dtype = df.schema[name].dataType.simpleString()
                step = (F.expr("interval 1 day")
                        if dtype in ("date", "timestamp", "timestamp_ntz")
                        else F.lit(1))
            if it.fill_staleness is not None and it.fill_to is None:
                # STALENESS extends the fill past the LAST original row
                # by up to staleness (doc example: 1,5,10 STALENESS 3 →
                # …10,11,12); the staleness filter then trims per-row
                stal_b = _post_expr(it.fill_staleness, df, ctx)
                stop = (stop - stal_b if _is_negative_step(it.fill_step)
                        else stop + stal_b)
                specs.append((name, start, stop, step, True))
                continue
            # explicit TO is exclusive (public CH WITH FILL contract);
            # a data-inferred max is a real row and stays included
            specs.append((name, start, stop, step,
                          it.fill_to is not None))
        if specs:
            df = with_fill_multi(df, specs, mark_generated="__wf_orig")
            # STALENESS c: a generated row survives only while within c
            # of the last ORIGINAL row below it (above it for a
            # descending fill); rows before the first original drop —
            # the public doc example (keys 1,5,10 STALENESS 3 →
            # 1,2,3, 5,6,7, 10,11,12)
            spec_names = {s[0] for s in specs}
            for it, name in zip(fill_items, names):
                if it.fill_staleness is None or name not in spec_names:
                    continue
                stal = _post_expr(it.fill_staleness, df, ctx)
                others = [n for n in spec_names if n != name]
                desc_fill = _is_negative_step(it.fill_step)
                oc = (F.col(name).desc() if desc_fill
                      else F.col(name).asc())
                w = (Window.partitionBy(*[F.col(o) for o in others])
                     .orderBy(oc)
                     .rowsBetween(Window.unboundedPreceding, -1))
                prev = F.last(F.when(F.col("__wf_orig") == 1,
                                     F.col(name)), ignorenulls=True)                     .over(w)
                within = (F.col(name) > prev - stal) if desc_fill                     else (F.col(name) < prev + stal)
                # Spark rejects window functions in filter() —
                # materialize the keep-decision as a column first
                keep = (F.col("__wf_orig").isNotNull()
                        | (prev.isNotNull() & within))
                df = (df.withColumn("__wf_keep", keep)
                        .filter(F.col("__wf_keep"))
                        .drop("__wf_keep"))
            interp_cols: set[str] = set()
            if q.interpolate:
                # CH rejects interpolating a fill column itself
                # (InterpreterSelectQuery: INVALID_WITH_FILL_EXPRESSION)
                fill_set = {s[0] for s in specs}
                for c, _ in q.interpolate:
                    if c in fill_set:
                        raise BuildError(
                            f"Column {c!r} is participating in ORDER BY "
                            f"... WITH FILL expression and can't be used "
                            f"in INTERPOLATE "
                            f"(INVALID_WITH_FILL_EXPRESSION)")
                df = _apply_interpolate(df, q.interpolate,
                                        [s[0] for s in specs])
                interp_cols = {c for c, _ in q.interpolate}
            # CH's FillingTransform emits generated rows with the TYPE
            # DEFAULT (0/'') in every non-fill, non-INTERPOLATE column —
            # never NULL; genuine NULLs in original rows stay NULL
            # (marker column distinguishes the two)
            from ..operators.joins import _type_default
            fill_names = {s[0] for s in specs}
            gen = F.col("__wf_orig").isNull()
            df = df.select(*[
                (F.when(gen, _type_default(df.schema[c].dataType))
                 .otherwise(F.col(c)).alias(c)
                 if c not in fill_names and c not in interp_cols
                 and c != "__wf_orig" else F.col(c))
                for c in df.columns]).drop("__wf_orig")
            if order_cols:
                # restore the query's declared sort direction (the fill
                # operator's internal order is always ascending)
                df = df.orderBy(*order_cols)
    ext_df = None
    if str(ctx.settings.get("extremes", 0)).strip("'\"").lower() \
            in ("1", "true"):
        # extremes (Settings.h:79): min/max of each NUMERIC result
        # column over the main rows (after LIMIT BY, before LIMIT —
        # the published CH contract), emitted as a separate two-row
        # block that the Pretty*/Vertical/JSON renderers show after
        # totals; non-numeric columns carry their type default.
        ext_df = _extremes_block(df)
    if q.offset:
        df = df.offset(q.offset)
    if q.limit is not None:
        df = df.limit(q.limit)
    if tot_df is not None:
        # append the totals block after the sorted/limited main rows
        # (union preserves child order: main partitions first). The
        # main/totals split is attached as metadata so Pretty*/Vertical
        # renderers can print the totals as a SEPARATE block, the way
        # clickhouse-client does.
        if tot_names is not None:
            tot_df = tot_df.select(*[_name_col(n).alias(_out_name(n))
                                     for n in tot_names])
        main_df = df
        df = df.unionByName(tot_df)
        df._ch_main_df = main_df
        df._ch_totals_df = tot_df
    if ext_df is not None:
        # computed post-projection, so it already carries output names
        df._ch_extremes_df = ext_df
    u8 = _uint8_bool_cols(q.select, df, ctx)
    if u8:
        # Spark BooleanType output columns whose DIALECT type is UInt8
        # (predicate results — CH renders them 1/0, not true/false);
        # the text-format renderers read this to pick the CH cell form
        df._ch_uint8_cols = u8
    u64 = _uint64_cols(q.select, df, ctx)
    if u64:
        # Spark LongType output columns whose DIALECT type is UInt64
        # (stored two's-complement per the UInt64-as-Long policy);
        # renderers print negative values + 2^64 so 0xFFFF... shows as
        # 18446744073709551615, the way CH formats UInt64
        df._ch_uint64_cols = u64
    return df


def _renders_as_ch_bool(item, ctx: Context) -> bool:
    """True when a select item's dialect type is genuinely Bool (bool
    literal, declared Bool column, toBool/CAST-to-Bool, or an if() whose
    branches are Bool) — everything else boolean-typed is a predicate
    result, which CH types UInt8 and renders as 1/0."""
    if isinstance(item, Alias):
        return _renders_as_ch_bool(item.expr, ctx)
    if isinstance(item, Literal):
        return isinstance(item.value, bool)
    if isinstance(item, Cast):
        t = item.type_name.strip().lower()
        if t.startswith("nullable(") and t.endswith(")"):
            t = t[9:-1].strip()
        return t in ("bool", "boolean")
    if isinstance(item, Identifier):
        t = (ctx.ch_types.get(item.name)
             or ctx.ch_types.get(item.parts[-1]) or "")
        t = t.strip()
        if t.lower().startswith("nullable(") and t.endswith(")"):
            t = t[9:-1].strip()
        return t.lower() in ("bool", "boolean")
    if isinstance(item, FuncCall):
        if item.name == "toBool":
            return True
        if item.name in ("toNullable", "assumeNotNull", "materialize",
                         "identity") and len(item.args) == 1:
            return _renders_as_ch_bool(item.args[0], ctx)
        if item.name == "if" and len(item.args) == 3:
            return (_renders_as_ch_bool(item.args[1], ctx)
                    and _renders_as_ch_bool(item.args[2], ctx))
    return False


def _uint8_bool_cols(select_items, df: DataFrame,
                     ctx: Context) -> frozenset:
    """Names of output columns that are Spark BooleanType but dialect
    UInt8 (comparison/predicate results). Schema-only — no job."""
    from pyspark.sql.types import BooleanType
    fields = df.schema.fields
    if not any(isinstance(f.dataType, BooleanType) for f in fields):
        return frozenset()
    if len(select_items) != len(fields):
        # projection shape diverged from the select list (kept helper
        # columns, etc.) — leave unmarked; booleans render as Bool
        return frozenset()
    return frozenset(
        f.name for item, f in zip(select_items, fields)
        if isinstance(f.dataType, BooleanType)
        and not _renders_as_ch_bool(item, ctx))


def _uint64_cols(select_items, df: DataFrame,
                 ctx: Context) -> frozenset:
    """Names of output columns that are Spark LongType but dialect
    UInt64 (the UInt64-as-Long policy stores them two's-complement).
    Schema-only — no job."""
    from pyspark.sql.types import LongType
    fields = df.schema.fields
    if not any(isinstance(f.dataType, LongType) for f in fields):
        return frozenset()
    if len(select_items) != len(fields):
        return frozenset()
    out = set()
    for item, f in zip(select_items, fields):
        if not isinstance(f.dataType, LongType):
            continue
        if isinstance(item, Star):
            # * projection: the declared dialect type carries through
            cht = ctx.ch_types.get(f.name)
        else:
            cht = _infer_ch_type(item, ctx, df)
        if cht == "UInt64":
            out.add(f.name)
    return frozenset(out)


def _extremes_block(df: DataFrame) -> DataFrame:
    """Two-row (min, max) extremes block: per-column min/max for numeric
    and temporal columns, the type default elsewhere — one extra global
    aggregate (map-side partial, ~numPartitions shuffle rows)."""
    from pyspark.sql import types as _T

    from ..operators.joins import _type_default
    numericish = (_T.ByteType, _T.ShortType, _T.IntegerType, _T.LongType,
                  _T.FloatType, _T.DoubleType, _T.DecimalType, _T.DateType,
                  _T.TimestampType)
    aggs, mins, maxs = [], [], []
    for f in df.schema.fields:
        if isinstance(f.dataType, numericish):
            aggs.append(F.min(_name_col(f.name)).alias(f"__mn_{f.name}"))
            aggs.append(F.max(_name_col(f.name)).alias(f"__mx_{f.name}"))
            mins.append(F.col(f"__mn_{f.name}").alias(f.name))
            maxs.append(F.col(f"__mx_{f.name}").alias(f.name))
        else:
            d = _type_default(f.dataType)
            mins.append(d.alias(f.name))
            maxs.append(d.alias(f.name))
    agg = df.agg(*aggs) if aggs else df.sparkSession.range(1)
    return agg.select(*mins).unionByName(agg.select(*maxs))


def _apply_interpolate(df: DataFrame, items: list,
                       fill_keys: list[str]) -> DataFrame:
    """ORDER BY … WITH FILL INTERPOLATE (col [AS expr]):
    fill-generated rows (col is NULL there) take the previous row's
    value (bare form) or ``prev ± const`` compounded per filled step
    (the linear AS forms — CH evaluates the expression iteratively row
    by row, which only linear expressions reduce to in one window pass;
    other shapes raise). The window is ordered by the fill keys over the
    bounded fill spine — single partition, bounded by the fill range."""
    w = Window.orderBy(*[F.col(k) for k in fill_keys]) \
        .rowsBetween(Window.unboundedPreceding, 0)
    for col, expr in items:
        prev = F.last(F.col(col), ignorenulls=True).over(w)
        if expr is None or (isinstance(expr, Identifier)
                            and expr.name == col):
            # bare form and the identity `col AS col` both carry the
            # previous row's value forward
            df = df.withColumn(col, F.coalesce(F.col(col), prev))
            continue
        # accept col ± literal (evaluated per filled step)
        delta = None
        if (isinstance(expr, FuncCall) and expr.name in ("plus", "minus")
                and len(expr.args) == 2
                and isinstance(expr.args[0], Identifier)
                and expr.args[0].name == col
                and isinstance(expr.args[1], Literal)):
            delta = F.lit(expr.args[1].value)
            if expr.name == "minus":
                delta = -delta
        if delta is None:
            raise BuildError(
                f"INTERPOLATE ({col} AS …) supports the bare column or "
                f"{col} ± <literal>; arbitrary expressions compound per "
                f"row and are not supported")
        grp = F.count(F.col(col)).over(w)      # bumps on real rows
        k = F.row_number().over(
            Window.partitionBy(grp).orderBy(
                *[F.col(c) for c in fill_keys])) - 1
        df = df.withColumn(col, F.coalesce(F.col(col), prev + delta * k))
    return df


def _clone_limits(q: SelectQuery) -> SelectQuery:
    import copy
    q2 = copy.copy(q)
    q2.limit = None
    q2.offset = None
    return q2


def _is_negative_step(node) -> bool:
    """True when a WITH FILL STEP literal is negative (descending fill)."""
    if isinstance(node, FuncCall) and node.name == "negate":
        return True
    if isinstance(node, Literal):
        try:
            return float(node.value) < 0
        except (TypeError, ValueError):
            return False
    return False


def _fill_col_name(it: OrderItem, df: DataFrame) -> str:
    e = it.expr
    if isinstance(e, Identifier):
        return e.name
    raise BuildError("WITH FILL requires a plain column in ORDER BY")


def _expand_stars(q: SelectQuery, ctx: Context) -> SelectQuery:
    """Expand Star nodes carrying COLUMNS/EXCEPT/REPLACE/APPLY modifiers
    (ExpressionElementParsers.cpp:1774-2015) against the FROM columns."""
    import copy
    import re as _re

    if not any(isinstance(it, Star) and _star_has_mods(it) for it in q.select):
        return q
    out: list = []
    for item in q.select:
        if not (isinstance(item, Star) and _star_has_mods(item)):
            out.append(item)
            continue
        if item.table:
            raise BuildError("t.* with column-set modifiers not supported")
        cols = list(ctx.columns)        # source order preserved
        if item.columns_regex:
            rx = _re.compile(item.columns_regex)
            cols = [c for c in cols if rx.search(c)]
        elif item.columns_list:
            cols = [c for c in item.columns_list]
        if item.except_:
            if item.except_strict:
                # EXCEPT STRICT requires every named column to exist
                missing = [c for c in item.except_ if c not in cols]
                if missing:
                    raise BuildError(
                        f"EXCEPT STRICT: column {missing[0]!r} is not "
                        f"in the source columns")
            cols = [c for c in cols if c not in set(item.except_)]
        if item.except_regex:
            rx = _re.compile(item.except_regex)
            cols = [c for c in cols if not rx.search(c)]
        replace = dict()
        for e, name in (item.replace or []):
            replace[name] = e
        for c in cols:
            node: object = replace.get(c, Identifier([c]))
            name = c
            for f in (item.apply or []):
                node, name = _apply_fn(f, node, name)
            out.append(Alias(node, name) if not isinstance(node, Identifier)
                       or name != c else node)
    q2 = copy.copy(q)
    q2.select = out
    return q2


def _star_has_mods(s: Star) -> bool:
    return any([s.columns_regex, s.columns_list, s.except_, s.except_regex,
                s.replace, s.apply])


def _apply_fn(f, node, name: str):
    """APPLY(f): wrap node in f; APPLY(x -> expr): substitute."""
    if isinstance(f, Identifier):
        return FuncCall(f.name, [node]), f"{f.name}({name})"
    if isinstance(f, FuncCall):
        # APPLY(quantile(0.5)): a parametric aggregate keeps its args
        # as PARAMS — quantile(0.5)(col) — while a scalar form
        # (APPLY(round(2))) appends them as trailing arguments
        from ..functions.aggregates import resolve_aggregate
        if f.params or resolve_aggregate(f.name) is not None \
                or f.name.startswith(("quantile", "median")):
            return (FuncCall(f.name, [node], params=list(f.args)),
                    f"{f.name}({name})")
        return FuncCall(f.name, [node, *f.args]), f"{f.name}({name})"
    if isinstance(f, Lambda):
        return _subst(f.body, f.params[0], node), f"lambda({name})"
    raise BuildError(f"APPLY expects a function or lambda, got {f}")


def _subst(node, param: str, repl):
    if isinstance(node, Identifier) and node.name == param:
        return repl
    if isinstance(node, FuncCall):
        return FuncCall(node.name, [_subst(a, param, repl) for a in node.args],
                        node.params, node.distinct, node.filter_where,
                        node.window, node.nulls_modifier)
    if isinstance(node, Cast):
        return Cast(_subst(node.expr, param, repl), node.type_name)
    if isinstance(node, ArrayLiteral):
        return ArrayLiteral([_subst(a, param, repl) for a in node.items])
    return node


def _register_aliases(node, ctx: Context) -> None:
    """Register every alias in an expression tree — CH aliases attach to
    ANY element ((1 + 1 AS two) + two), not just top-level select items,
    and are visible query-wide."""
    if isinstance(node, Alias):
        ctx.aliases.setdefault(node.alias, node.expr)
        _register_aliases(node.expr, ctx)
    elif isinstance(node, FuncCall):
        for a in node.args:
            if not isinstance(a, (Subquery, Lambda)):
                _register_aliases(a, ctx)
    elif isinstance(node, (ArrayLiteral, TupleLiteral)):
        for a in node.items:
            _register_aliases(a, ctx)
    elif isinstance(node, Cast):
        _register_aliases(node.expr, ctx)


# --- FROM -------------------------------------------------------------------

def _build_from(node, ctx: Context) -> DataFrame:
    if isinstance(node, TableRef):
        name = node.table if node.database is None else f"{node.database}.{node.table}"
        if name in ctx.tables:               # db-qualified entry wins
            df, rkey = ctx.tables[name], name
        elif node.database is None and node.table in ctx.tables:
            df, rkey = ctx.tables[node.table], node.table
        elif node.database == "system":
            df, rkey = _system_table(node.table, ctx), name
        else:
            # an explicit db qualifier never falls back to a same-named
            # table in another db — that silently returns wrong data
            raise BuildError(f"unknown table: {name}")
        # engine metadata is looked up under the SAME key the table resolved
        # by, so FROM db.t FINAL never picks a shadowing table's ORDER BY
        ctx.hidden_columns.update(
            ctx.engines.get(rkey, {}).get("hidden", []))
        for cname, ctype in ctx.engines.get(rkey, {}).get("columns",
                                                          {}).items():
            # ambiguous across joined tables → drop to schema inference
            if ctx.ch_types.get(cname, ctype) != ctype:
                ctx.ch_types[cname] = ""
            else:
                ctx.ch_types[cname] = ctype
        cap = _limit_setting(ctx, "max_rows_to_read")
        if cap is not None:
            df = _meter_scan(df, cap, ctx, name)
        if node.final:
            meta = ctx.engines.get(rkey)
            if not meta or "order_by" not in meta:
                raise BuildError(
                    f"FINAL on {name} needs engine metadata (ORDER BY key + "
                    f"version column); pass engines={{...}}")
            from ..operators.final import final_for_engine
            df = final_for_engine(df, key=meta["order_by"],
                                  version=meta["version"],
                                  engine=meta.get("engine", ""),
                                  sign=meta.get("sign"),
                                  sum_cols=meta.get("sum_cols"),
                                  ch_columns=meta.get("columns"))
        if node.sample:
            frac, off = node.sample
            key = ctx.engines.get(rkey, {}).get("sample_by",
                                                df.columns[0])
            df = sample_by_key(df, key, frac, off)
        if node.alias:
            df = df.alias(node.alias)
            if node.alias not in ctx.tables:
                ctx.tables[node.alias] = df
        else:
            # CH allows qualification by the bare table name
            # (SELECT ta.v FROM ta) — register it as the frame alias
            df = df.alias(node.table)
        return df
    if isinstance(node, SubqueryRef):
        df = _build_query(node.query, ctx)
        if node.alias:
            df = df.alias(node.alias)
            if node.alias not in ctx.tables:
                ctx.tables[node.alias] = df
        return df
    if isinstance(node, TableFunction):
        return _table_function(node, ctx)
    if isinstance(node, Join):
        return _build_join(node, ctx)
    raise BuildError(f"unsupported FROM node: {type(node).__name__}")


def _meter_scan(df: DataFrame, cap: int, ctx: Context,
                name: str) -> DataFrame:
    """max_rows_to_read (Settings.h:280): meter every named-table scan
    against a query-wide row budget. CH counts rows read from storage
    after index pruning but before WHERE; the closest honest Spark
    analogue is the base table's row count (parquet footer metadata —
    the counting job reads no data pages). 'throw' raises once the
    cumulative budget is blown; 'break' truncates each scan to the
    remaining budget (CH stops reading — same partial-result shape)."""
    mode = _overflow_mode(ctx, "read_overflow_mode")
    meter = ctx.read_meter
    if mode == "break":
        remaining = cap - meter["rows"]
        if remaining <= 0:
            return df.limit(0)
        df = df.limit(remaining)
        n = meter["cache"].setdefault(("break", id(df)), df.count())
        meter["rows"] += n
        return df
    n = meter["cache"].setdefault(id(df), df.count())
    meter["rows"] += n
    if meter["rows"] > cap:
        raise QueryLimitExceeded(
            f"max_rows_to_read: scanning {name} brings the rows read to "
            f"{meter['rows']} > {cap} (TOO_MANY_ROWS; use "
            f"read_overflow_mode='break' for a truncated scan)")
    return df


def _meter_generated(ctx: Context, n: int, name: str) -> int:
    """max_rows_to_read meters GENERATOR sources too (numbers/zeros/
    generateRandom) — CH counts generated rows as reads (the r10 verdict
    divergence). The row count is declared by the call, so no counting
    job is needed: 'throw' raises once the budget is blown, 'break'
    caps the generated count to the remaining budget."""
    cap = _limit_setting(ctx, "max_rows_to_read")
    if cap is None:
        return n
    mode = _overflow_mode(ctx, "read_overflow_mode")
    meter = ctx.read_meter
    if mode == "break":
        n = min(n, max(0, cap - meter["rows"]))
        meter["rows"] += n
        return n
    meter["rows"] += n
    if meter["rows"] > cap:
        raise QueryLimitExceeded(
            f"max_rows_to_read: generating {name} rows brings the rows "
            f"read to {meter['rows']} > {cap} (TOO_MANY_ROWS; use "
            f"read_overflow_mode='break' for a truncated scan)")
    return n


def _numbers_where_bound(pred) -> int | None:
    """Smallest exclusive upper bound a WHERE conjunction proves for the
    `number` column (number < N / <= N / = N, either operand order);
    None when no conjunct bounds it."""
    conjs: list = []

    def flat(n):
        if isinstance(n, FuncCall) and n.name == "and":
            for a in n.args:
                flat(a)
        else:
            conjs.append(n)

    flat(pred)
    bounds: list[int] = []
    for c in conjs:
        if not (isinstance(c, FuncCall) and len(c.args) == 2):
            continue
        a, b = c.args
        name = c.name
        if isinstance(b, Identifier) and isinstance(a, Literal):
            a, b = b, a
            name = {"less": "greater", "greater": "less",
                    "lessOrEquals": "greaterOrEquals",
                    "greaterOrEquals": "lessOrEquals"}.get(name, name)
        if not (isinstance(a, Identifier) and a.name == "number"
                and isinstance(b, Literal) and isinstance(b.value, int)):
            continue
        if name == "less":
            bounds.append(b.value)
        elif name in ("lessOrEquals", "equals"):
            bounds.append(b.value + 1)
    return min(bounds) if bounds else None


def _declare_numbers_type(ctx: Context) -> None:
    """CH SystemNumbers declares `number` as UInt64 — feed that into
    the declared-type map so arithmetic result types see the unsigned
    width (number % 2 is UInt8, hex(number) is 16 digits). Ambiguity
    with a same-named column from a joined table drops to schema
    inference, mirroring the engine-metadata rule."""
    if ctx.ch_types.get("number", "UInt64") != "UInt64":
        ctx.ch_types["number"] = ""
    else:
        ctx.ch_types["number"] = "UInt64"


def _system_table(table: str, ctx: Context) -> DataFrame:
    """system.* virtual tables available on any session (the catalog's
    ChSession layers richer ones — tables/columns/databases — on top by
    injecting db-qualified entries into the table map)."""
    if table == "one":
        return ctx.spark.range(1).select(
            F.lit(0).cast("tinyint").alias("dummy"))
    if table in ("numbers", "numbers_mt"):
        # CH system.numbers is an unbounded stream (StorageSystemNumbers);
        # a query over it terminates only when a LIMIT bounds the scan.
        # Materialize exactly LIMIT+OFFSET rows when the enclosing SELECT
        # proves that bound; otherwise refuse rather than silently
        # truncate (a wrong count() is worse than an error).
        if ctx.numbers_bound is None:
            raise BuildError(
                f"system.{table} is unbounded; add a LIMIT directly to "
                f"this SELECT (with no row-dropping WHERE/GROUP BY/"
                f"DISTINCT before it) or use the numbers(N) table "
                f"function for an exact row count")
        _declare_numbers_type(ctx)
        return (ctx.spark.range(ctx.numbers_bound)
                .withColumnRenamed("id", "number"))
    if table == "functions":
        from ..functions import REGISTRY
        return ctx.spark.createDataFrame(
            [(n,) for n in sorted(REGISTRY)], "name string")
    raise BuildError(f"unknown table: system.{table}")


def _table_function(node: TableFunction, ctx: Context) -> DataFrame:
    name = node.name.lower()

    def _tf_py(a):
        # literal or {p:Type} query parameter → python value
        if isinstance(a, QueryParameter):
            if a.name not in ctx.params:
                raise BuildError(f"unbound query parameter: "
                                 f"{{{a.name}:{a.type_name}}}")
            return ctx.params[a.name]
        return a.value

    if name in ("numbers", "numbers_mt"):
        # numbers(N) / numbers(start, N) → spark.range (ref table
        # function); numbers_mt is the multi-threaded variant with the
        # same contents minus the ordering guarantee — spark.range is
        # already parallel
        _declare_numbers_type(ctx)
        args = [_tf_py(a) for a in node.args]
        if len(args) == 1:
            n = _meter_generated(ctx, int(args[0]), name)
            return ctx.spark.range(n).withColumnRenamed("id", "number")
        n = _meter_generated(ctx, int(args[1]), name)
        return (ctx.spark.range(args[0], args[0] + n)
                .withColumnRenamed("id", "number"))
    if name == "view":
        return _build_query(node.args[0].query, ctx)
    if name == "merge":
        # merge([db,] 'table_regex'): UNION ALL by COLUMN NAME of every
        # matching registered table (public CH merge() table function /
        # Merge engine reads columns by name, not position — two tables
        # with the same columns in different declaration order must not
        # scramble values). Catalyst prunes/pushes into each branch.
        import re as _re
        args = [a.value if isinstance(a, Literal) else a.name
                for a in node.args]
        db, pat = (args[0], args[1]) if len(args) > 1 else (None, args[0])
        rx = _re.compile(pat)
        prefix = f"{db}." if db else ""
        cands = sorted(
            t for t in ctx.tables
            if (t.startswith(prefix) and "." not in t[len(prefix):]
                and rx.search(t[len(prefix):]))
            or (not prefix and "." not in t and rx.search(t)))
        if not cands:
            raise BuildError(f"merge(): no tables match {pat!r}")
        frames = [ctx.tables[t] for t in cands]
        out = frames[0]
        base_cols = set(out.columns)
        for t, f_ in zip(cands[1:], frames[1:]):
            if set(f_.columns) != base_cols:
                raise BuildError(
                    f"merge(): table {t!r} column set "
                    f"{sorted(f_.columns)} does not match "
                    f"{sorted(base_cols)} of {cands[0]!r}")
            out = out.unionByName(f_)
        return out
    if name == "one":
        # system.one analogue: single row, dummy UInt8 = 0
        return ctx.spark.range(1).select(
            F.lit(0).cast("tinyint").alias("dummy"))
    if name in ("zeros", "zeros_mt"):
        n = _meter_generated(ctx, int(node.args[0].value), name)
        return ctx.spark.range(n).select(
            F.lit(0).cast("tinyint").alias("zero"))
    if name in ("file", "url"):
        from ..sources import read_format
        path = node.args[0].value
        fmt = node.args[1].value if len(node.args) > 1 else "Parquet"
        return read_format(ctx.spark, fmt, path)
    if name == "generaterandom":
        # generateRandom('schema', [seed], [max_str_len], [max_arr_len]):
        # unbounded in CH — bounded here by the enclosing LIMIT exactly
        # like system.numbers, deterministic for a given seed
        from ..sources.generate import generate_random
        if ctx.numbers_bound is None:
            raise BuildError(
                "generateRandom is unbounded; add a LIMIT directly to "
                "this SELECT (no row-dropping clause before it)")
        args = [a.value for a in node.args]
        return generate_random(
            ctx.spark, args[0],
            _meter_generated(ctx, ctx.numbers_bound, name),
            seed=int(args[1]) if len(args) > 1 else 42,
            max_str=int(args[2]) if len(args) > 2 else 10,
            max_arr=int(args[3]) if len(args) > 3 else 10)
    if name == "values":
        # values('a Int32, b String', (1,'x'), (2,'y')) — inline rows
        from ..functions.typemap import ch_type_to_spark
        from ..sources.generate import _split_cols
        if not node.args:
            raise BuildError("values() requires at least one row")
        if isinstance(node.args[0], Literal) \
                and isinstance(node.args[0].value, str):
            cols = _split_cols(node.args[0].value)
            spark_schema = ", ".join(f"`{n}` {ch_type_to_spark(t)}"
                                     for n, t in cols)
            data_args = node.args[1:]
        else:
            # schema-less form values((1, 'x'), ...): columns named
            # c1..cN, types inferred from the rows (CH contract)
            spark_schema = None
            data_args = node.args

        def _cell(item):
            # constant EXPRESSIONS are allowed in VALUES rows
            # (input_format_values_interpret_expressions default 1):
            # evaluate against a one-row frame — bounded by the
            # inline row count, never a table scan
            if isinstance(item, Literal):
                return item.value
            one = ctx.spark.range(1)
            return one.select(_eval(item, ctx, one)).collect()[0][0]

        rows = []
        for a in data_args:
            if isinstance(a, TupleLiteral):
                rows.append(tuple(_cell(item) for item in a.items))
            else:
                rows.append((_cell(a),))
        if spark_schema is None:
            width = max(len(r) for r in rows)
            return ctx.spark.createDataFrame(
                rows, [f"c{i + 1}" for i in range(width)])
        return ctx.spark.createDataFrame(rows, spark_schema)
    if name == "format":
        # format(FormatName, 'data') — inline data in any input format;
        # same temp-file + format-registry path as INSERT ... FORMAT
        import tempfile

        from ..sources import read_format
        fmt = (node.args[0].name if isinstance(node.args[0], Identifier)
               else str(node.args[0].value))
        data = node.args[1].value
        with tempfile.NamedTemporaryFile(
                "w", suffix=".data", delete=False) as fh:
            fh.write(data)
        try:
            # inline data is bounded by the SQL statement size, so
            # materialize eagerly — the temp file can then be removed at
            # once (no leak, no stale lazy re-read)
            lazy = read_format(ctx.spark, fmt, fh.name)
            return ctx.spark.createDataFrame(lazy.collect(), lazy.schema)
        finally:
            os.unlink(fh.name)
    if name in _PIPELINE_TFS:
        return _pipeline_table_function(name, node, ctx)
    if name == "null":
        # null('a UInt8'): accepts inserts, always reads empty — the
        # Null-engine table function
        from ..functions.typemap import ch_type_to_spark
        from ..sources.generate import _split_cols
        if not node.args or not isinstance(node.args[0], Literal):
            raise BuildError("null() requires a structure string")
        cols = _split_cols(node.args[0].value)
        return ctx.spark.createDataFrame(
            [], ", ".join(f"`{n}` {ch_type_to_spark(t)}"
                          for n, t in cols))
    if name in ("remote", "remoteSecure", "cluster",
                "clusterAllReplicas"):
        # single-process analogue (SURVEY §2.13 scope: Spark itself is
        # the distribution layer): the address/cluster argument is
        # accepted and ignored; the named table resolves locally.
        # remote('host', db, table) / remote('host', db.table)
        # [, user, password]
        parts = []
        for a in node.args[1:]:
            if isinstance(a, Identifier):
                parts.extend(a.parts)
            elif isinstance(a, Literal) and isinstance(a.value, str) \
                    and not parts:
                parts.extend(str(a.value).split("."))
            else:
                break                     # user/password tail
        if not parts:
            raise BuildError(f"{name}() requires a table argument")
        key = ".".join(parts[:2])
        if key == "system.one":
            return ctx.spark.createDataFrame([(0,)], "dummy smallint")
        for cand in (key, parts[-1]):
            if cand in ctx.tables:
                return ctx.tables[cand]
        raise BuildError(f"{name}(): unknown table {key}")
    if name in ("s3", "hdfs"):
        # map onto Spark's own readers — on a configured cluster
        # spark.read speaks s3a:// and hdfs:// natively; credentials
        # come from the Spark/Hadoop conf, so the CH-style key
        # arguments and NOSIGN are accepted and ignored
        import re as _re

        from ..functions.typemap import ch_type_to_spark
        from ..sources import FORMATS as _FMTS
        from ..sources import read_format
        from ..sources.generate import _split_cols
        if not node.args or not isinstance(node.args[0], Literal):
            raise BuildError(f"{name}() requires a URL string")
        url = str(node.args[0].value)
        # virtual-hosted S3 HTTPS URL → s3a://bucket/key
        m = _re.match(
            r"^https?://([^./]+)\.s3[.-][^/]*amazonaws\.com/(.*)$", url)
        if m:
            url = f"s3a://{m.group(1)}/{m.group(2)}"
        fmt, structure = None, None
        for a in node.args[1:]:
            if isinstance(a, Literal) and isinstance(a.value, str):
                if a.value in _FMTS and fmt is None:
                    fmt = a.value
                elif " " in a.value and structure is None:
                    structure = a.value
        if fmt is None:
            ext = url.rsplit(".", 1)[-1].lower()
            fmt = {"parquet": "Parquet", "orc": "ORC", "avro": "Avro",
                   "csv": "CSV", "tsv": "TSV",
                   "json": "JSONEachRow",
                   "jsonl": "JSONEachRow"}.get(ext, "Parquet")
        schema = None
        if structure is not None:
            schema = ", ".join(
                f"`{n}` {ch_type_to_spark(t)}"
                for n, t in _split_cols(structure))
        return read_format(ctx.spark, fmt, url, schema=schema)
    if node.name in ctx.view_asts:
        # parameterized view call: v(p = 3, q = 'x') binds the view's
        # {name:Type} query parameters and builds its stored AST
        binds = dict(ctx.params)
        for a in node.args:
            if isinstance(a, FuncCall) and a.name == "equals" \
                    and len(a.args) == 2 \
                    and isinstance(a.args[0], Identifier) \
                    and isinstance(a.args[1], Literal):
                binds[a.args[0].name] = a.args[1].value
            else:
                raise BuildError(
                    f"{node.name}(): parameterized-view arguments must "
                    f"be name = literal pairs")
        sub = Context(ctx.spark, ctx.tables, engines=ctx.engines,
                      params=binds, settings=ctx.settings,
                      udfs=ctx.udfs, dictionaries=ctx.dictionaries,
                      view_asts=ctx.view_asts)
        return _build_query(ctx.view_asts[node.name], sub)
    raise BuildError(f"unsupported table function: {node.name}")


# dialect-level table functions over the beyond-reference pipeline ops
# (SURVEY §7 M6: "both a table function in the dialect and a Python API")
_PIPELINE_TFS = {"dedupexact", "dedupminhash", "dedupsimhash",
                 "ngramjaccard", "anncosinetopk", "dedupembeddingcosine",
                 "dedupembeddinglsh", "passagededup", "piiscrub",
                 "trainingrecipe", "stratifiedsplit", "decontaminate",
                 "contamination", "dsirselect", "packsequences",
                 "domainmix"}


def _pipeline_table_function(name: str, node: TableFunction,
                             ctx: Context) -> DataFrame:
    from .. import pipeline as P

    def tbl(i: int) -> DataFrame:
        a = node.args[i]
        if isinstance(a, Identifier) and a.name in ctx.tables:
            return ctx.tables[a.name]
        if isinstance(a, Subquery):
            return _build_query(a.query, ctx)
        if (isinstance(a, FuncCall) and a.name == "view"
                and isinstance(a.args[0], Subquery)):
            return _build_query(a.args[0].query, ctx)
        raise BuildError(f"{node.name}: argument {i} must be a table "
                         f"name or view(...)")

    def lit(i: int, default=None):
        if len(node.args) > i and isinstance(node.args[i], Literal):
            return node.args[i].value
        return default

    if name == "dedupexact":
        return P.exact_dedup(tbl(0))
    if name == "dedupminhash":
        return P.minhash_lsh_candidates(tbl(0))
    if name == "dedupsimhash":
        k = lit(1, 0)
        if k:
            return P.simhash_near_dups_hamming(tbl(0), k=int(k))
        return P.simhash_near_dups(tbl(0))
    if name == "ngramjaccard":
        return P.ngram_jaccard_pairs(tbl(0), threshold=float(lit(1, 0.6)))
    # passageDedup(docs [, words_per_chunk [, max_count]])
    if name == "passagededup":
        return P.passage_dedup(tbl(0), words_per_chunk=int(lit(1, 8)),
                               max_count=int(lit(2, 1)))
    # piiScrub(docs): scrubbed text + per-type redaction counts
    if name == "piiscrub":
        d = tbl(0)
        return d.select(
            "*",
            P.pii_scrub(F.col("text")).alias("scrubbed"),
            P.pii_count(F.col("text"), "email").alias("n_emails"),
            P.pii_count(F.col("text"), "ipv4").alias("n_ips"),
            P.pii_count(F.col("text"), "phone").alias("n_phones"))
    # stratifiedSplit(docs [, key [, salt]]) — deterministic
    # train/val/test labels, map-only (pipeline/split.py)
    if name == "stratifiedsplit":
        return P.stratified_split(tbl(0), key=str(lit(1, "doc_id")),
                                  salt=str(lit(2, "v1")))
    # decontaminate(docs, bench [, n [, min_matches]]) — keep documents
    # NOT overlapping the benchmark set (pipeline/decontaminate.py)
    if name == "decontaminate":
        return P.decontaminate(tbl(0), tbl(1), n=int(lit(2, 3)),
                               min_matches=int(lit(3, 1)))
    if name == "contamination":
        return P.contamination(tbl(0), tbl(1), n=int(lit(2, 3)),
                               min_matches=int(lit(3, 1)))
    # dsirSelect(raw, target, k [, mode]) — hashed n-gram importance
    # selection against a target corpus (pipeline/dsir.py)
    if name == "dsirselect":
        return P.dsir_select(tbl(0), tbl(1), k=int(lit(2, 100)),
                             mode=str(lit(3, "log")))
    # packSequences(docs [, budget [, n_shards]]) — GPT-style packing
    if name == "packsequences":
        return P.pack_sequences(tbl(0), budget=int(lit(1, 2048)),
                                n_shards=int(lit(2, 8)))
    # trainingRecipe(docs [, min_quality [, near_dup]])
    if name == "trainingrecipe":
        return P.prepare_training_data(
            tbl(0), min_quality=float(lit(1, 0.5)),
            near_dup=str(lit(2, "exact")))
    # domainMix is keyword-heavy; the TF form takes rates as a JSON-ish
    # 'name:rate,name:rate' string literal
    if name == "domainmix":
        spec = str(lit(1, ""))
        rates = {}
        for part in spec.split(","):
            if ":" in part:
                k, v = part.split(":", 1)
                rates[k.strip()] = float(v)
        return P.domain_mix(tbl(0), rates,
                            default_rate=float(lit(2, 1.0)))
    # dedupEmbeddingCosine(corpus [, threshold]) — exact all-pairs
    if name == "dedupembeddingcosine":
        return P.cosine_near_dup_pairs(tbl(0), threshold=float(lit(1, 0.9)))
    # dedupEmbeddingLSH(corpus [, threshold [, dim]]) — banded LSH
    if name == "dedupembeddinglsh":
        return P.lsh_near_dup_pairs(tbl(0), threshold=float(lit(1, 0.9)),
                                    dim=int(lit(2, 64)))
    # annCosineTopK(corpus, view(SELECT vec_id AS query_id, embedding ...), k)
    return P.brute_force_topk(tbl(0), tbl(1), k=int(lit(2, 5)),
                              round_digits=4)


def _resolve_join_strictness(node: Join, ctx: Context) -> str:
    """A bare JOIN (no ALL/ANY/ASOF/SEMI/ANTI keyword, parsed as "")
    takes its strictness from the join_default_strictness setting
    (Settings.h:226): default ALL; 'ANY' dedupes the non-driving side;
    the empty string makes a bare JOIN an error, exactly as the
    reference documents."""
    s = node.strictness
    if s != "" or node.kind == "cross":
        return s
    dflt = str(ctx.settings.get("join_default_strictness", "ALL")) \
        .strip("'\"").lower()
    if dflt == "":
        raise BuildError(
            "JOIN without strictness specifier and empty "
            "join_default_strictness — write ALL/ANY JOIN or SET "
            "join_default_strictness (EXPECTED_ALL_OR_ANY)")
    if dflt not in ("all", "any"):
        raise BuildError(
            f"invalid join_default_strictness value {dflt!r} "
            f"(expected '', 'ALL' or 'ANY')")
    return dflt


def _build_join(node: Join, ctx: Context) -> DataFrame:
    strictness = _resolve_join_strictness(node, ctx)
    left = _build_from(node.left, ctx)
    right = _build_from(node.right, ctx)
    if node.is_global:
        right = F.broadcast(right)
    else:
        # join_algorithm setting (Settings.h:333) → Catalyst join hints;
        # 'auto'/'direct' leave the strategy to Catalyst + AQE
        algo = str(ctx.settings.get("join_algorithm", "")) \
            .strip("'\"").lower()
        if algo in ("hash", "parallel_hash", "grace_hash"):
            right = right.hint("SHUFFLE_HASH")
        elif algo in ("partial_merge", "full_sorting_merge"):
            right = right.hint("MERGE")

    if node.kind == "cross":
        return left.crossJoin(right)

    if strictness == "asof":
        # the union+window lowering flattens Spark's alias scoping:
        # record both factors' names so later `alias.col` references
        # resolve against the flat output columns
        for factor in (node.left, node.right):
            a = getattr(factor, "alias", None)
            t = getattr(factor, "table", None)
            ctx.flat_qualifiers.update(x for x in (a, t) if x)

        def _record_renames(eq_keys: list) -> None:
            # mirror asof_join's collision suffixing so right-qualified
            # refs (s.event_id) resolve to the RENAMED column instead of
            # silently hitting the left's same-named column
            r_quals = {x for x in (getattr(node.right, "alias", None),
                                   getattr(node.right, "table", None)) if x}
            l_quals = {x for x in (getattr(node.left, "alias", None),
                                   getattr(node.left, "table", None)) if x}
            for c in right.columns:
                if c not in eq_keys and c in left.columns:
                    for q in r_quals:
                        ctx.flat_renames[(q, c)] = c + "_asof"
                    for q in l_quals:
                        ctx.flat_renames.setdefault((q, c), c)
        if node.using:
            # ASOF USING (k1, .., t): the LAST column is the inequality
            # key with <= semantics, the rest are equi-keys (public CH
            # ASOF USING contract)
            if len(node.using) < 2:
                raise BuildError("ASOF USING needs at least 2 columns "
                                 "(equi keys + the asof column)")
            *eq, t = node.using
            _record_renames(list(eq) + [t])
            # latest right row with right.t <= left.t; bare ASOF JOIN is
            # inner (unmatched left rows dropped), ASOF LEFT keeps them
            return asof_join(left, right, on=list(eq),
                             left_time=t, right_time=t,
                             direction="backward", how=node.kind)
        if not node.on:
            raise BuildError("ASOF JOIN requires ON or USING")
        eq, ineq = _split_asof_on(node.on)
        lcol, rcol, direction, strict = ineq
        _record_renames(list(eq))
        return asof_join(left, right,
                         on=eq, left_time=lcol, right_time=rcol,
                         direction=direction, strict=strict,
                         how=node.kind)

    how = {"inner": "inner", "left": "left", "right": "right",
           "full": "full"}[node.kind]

    if strictness == "any" and node.kind in ("inner", "left", "right",
                                                  "full"):
        # ANY strictness: at most one match from the non-driving side.
        # ANY LEFT/INNER dedupe the right side per key; ANY RIGHT the left
        # (CH ASTTablesInSelectQuery.h:79-80). Works for both USING and
        # equi-ON (keys extracted from the ON conjunction).
        if node.using is not None:
            lkeys = rkeys = list(node.using)
        elif node.on is not None:
            pairs = _split_equi_pairs(node.on, left, right)
            lkeys = [p[0] for p in pairs]
            rkeys = [p[1] for p in pairs]
        else:
            raise BuildError("ANY JOIN requires USING or ON")
        take_last = str(ctx.settings.get("join_any_take_last_row", 0)) \
            .strip("'\"").lower() in ("1", "true")
        if node.kind == "right":
            left = _dedupe_one_per_key(left, lkeys, last=take_last)
        else:
            right = _dedupe_one_per_key(right, rkeys, last=take_last)

    on = None
    if node.using is not None:
        on = list(node.using)
    elif node.on is not None:
        on = _eval(node.on, ctx.child(), df=None, two_sided=(left, right))
        if not _is_boolish(node.on):
            # CH truthy ON conditions (``ON 1``, ``ON a*b``): any
            # non-zero numeric joins the pair, same as filter position
            on = on.cast("boolean")

    if strictness == "semi":
        how = "left_semi" if node.kind != "right" else "right_semi"
    elif strictness == "anti":
        how = "left_anti" if node.kind != "right" else "right_anti"

    use_nulls = str(ctx.settings.get("join_use_nulls", 0)).lower() \
        in ("1", "true")
    if node.kind in ("left", "right", "full") and not use_nulls \
            and strictness in ("all", "any", None, ""):
        # join_use_nulls=0 (the CH default, Settings.h:224): non-matched
        # outer-join cells get the column type's default, not NULL.
        # The fill projection flattens Spark's side qualifiers, so
        # record them (ASOF-style) for later `alias.col` resolution;
        # colliding right columns carry a __r suffix in the output.
        keys = on if isinstance(on, list) else []
        r_quals = {x for x in (getattr(node.right, "alias", None),
                               getattr(node.right, "table", None)) if x}
        l_quals = {x for x in (getattr(node.left, "alias", None),
                               getattr(node.left, "table", None)) if x}
        ctx.flat_qualifiers.update(l_quals | r_quals)
        from ..operators.joins import right_collision_name
        taken = set(left.columns) | set(right.columns)
        for c in right.columns:
            if c in keys:
                continue
            if c in left.columns:
                out_name = right_collision_name(c, taken)
                taken.add(out_name)
                for q in r_quals:
                    ctx.flat_renames[(q, c)] = out_name
                for q in l_quals:
                    ctx.flat_renames.setdefault((q, c), c)
        if isinstance(on, list):
            return join_with_defaults(left, right, on=on, how=how)
        return join_with_defaults(left, right, how=how, condition=on)
    return left.join(right, on=on, how=how)


def _dedupe_one_per_key(df: DataFrame, keys: list[str],
                        last: bool = False) -> DataFrame:
    """One deterministic row per join key (ANY strictness). Map-side
    combine-friendly window; shrinks the shuffled side before the join.
    ``last`` honors join_any_take_last_row (Settings.h:332): pick the
    LAST row per key under the same deterministic total order the
    default picks the first of (CH's notion of arrival order does not
    exist in a declarative plan, so the engine documents the
    deterministic-order reading for both)."""
    w = Window.partitionBy(*[_name_col(k) for k in keys]) \
              .orderBy(*[(_name_col(c).desc() if last else _name_col(c))
                         for c in df.columns])
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1).drop("__rn"))


def _split_equi_pairs(on_node, left: DataFrame,
                      right: DataFrame) -> list[tuple[str, str]]:
    """Extract (left_col, right_col) pairs from an equality-conjunction ON
    clause, resolving sides by column membership (qualifier-last-part)."""
    conjuncts: list = []

    def flat(n):
        if isinstance(n, FuncCall) and n.name == "and":
            for a in n.args:
                flat(a)
        else:
            conjuncts.append(n)

    flat(on_node)
    pairs: list[tuple[str, str]] = []
    for c in conjuncts:
        if not (isinstance(c, FuncCall) and c.name == "equals"
                and len(c.args) == 2
                and isinstance(c.args[0], Identifier)
                and isinstance(c.args[1], Identifier)):
            raise BuildError("ANY JOIN ON must be a conjunction of column "
                             "equalities")
        a = c.args[0].parts[-1]
        b = c.args[1].parts[-1]
        if a in left.columns and b in right.columns:
            pairs.append((a, b))
        elif b in left.columns and a in right.columns:
            pairs.append((b, a))
        else:
            raise BuildError(f"cannot resolve ON sides for {a} = {b}")
    return pairs


def _split_asof_on(on_node) -> tuple[list[str], tuple[str, str, str, bool]]:
    """Split ASOF ON into equi-keys + the one inequality (CH rule: the
    final inequality condition drives the as-of match). The last element
    is strictness: True for ``>``/``<``, False for ``>=``/``<=``."""
    conjuncts: list = []

    def flat(n):
        if isinstance(n, FuncCall) and n.name == "and":
            for a in n.args:
                flat(a)
        else:
            conjuncts.append(n)

    flat(on_node)
    eq: list[str] = []
    ineq = None
    for c in conjuncts:
        if not isinstance(c, FuncCall):
            raise BuildError("ASOF ON must be conjunction of comparisons")
        lname = c.args[0].parts[-1] if isinstance(c.args[0], Identifier) else None
        rname = c.args[1].parts[-1] if isinstance(c.args[1], Identifier) else None
        if c.name == "equals":
            if lname != rname:
                raise BuildError("ASOF equi-keys must reference same-named "
                                 "columns (USING semantics)")
            eq.append(lname)
        elif c.name == "greaterOrEquals":
            ineq = (lname, rname, "backward", False)
        elif c.name == "greater":
            ineq = (lname, rname, "backward", True)
        elif c.name == "lessOrEquals":
            ineq = (lname, rname, "forward", False)
        elif c.name == "less":
            ineq = (lname, rname, "forward", True)
    if ineq is None:
        raise BuildError("ASOF JOIN needs an inequality condition")
    return eq, ineq


def _apply_array_join(df: DataFrame, aj: ArrayJoinClause,
                      ctx: Context) -> DataFrame:
    arrays: dict[str, Column] = {}
    for e in aj.exprs:
        if isinstance(e, Alias):
            arrays[e.alias] = _eval(e.expr, ctx, df)
        elif isinstance(e, Identifier):
            subs = [c for c in df.columns
                    if c.startswith(e.name + ".")]
            if e.name not in df.columns and subs:
                # ARRAY JOIN n over a Nested column: every flattened
                # n.* array unnests in lockstep (NestedUtils semantics)
                for c in subs:
                    df = df.withColumnRenamed(c, f"__aj_{c}")
                    arrays[c] = F.col(f"`__aj_{c}`")
                continue
            df = df.withColumnRenamed(e.name, f"__aj_{e.name}")
            arrays[e.name] = F.col(f"`__aj_{e.name}`")
        else:
            raise BuildError("ARRAY JOIN expression needs an alias")
    out = array_join(df, arrays, left=aj.left)
    return out.drop(*[c for c in out.columns if c.startswith("__aj_")])


def _contains_array_join_call(node) -> bool:
    if isinstance(node, FuncCall):
        if node.name == "arrayJoin":
            return True
        return any(_contains_array_join_call(a) for a in node.args
                   if not isinstance(a, (Lambda, Subquery)))
    if isinstance(node, (Alias, Cast)):
        return _contains_array_join_call(node.expr)
    if isinstance(node, (ArrayLiteral, TupleLiteral)):
        return any(_contains_array_join_call(a) for a in node.items)
    return False


def _hoist_nested_array_joins(q: SelectQuery, df: DataFrame,
                              ctx: Context, extra_preds: list = ()):
    """``arrayJoin()`` nested inside another expression —
    ``arrayJoin([...]).2``, ``sum(arrayJoin(x))`` — cannot lower to a
    Spark generator sub-expression (generators are projection-level
    only), so hoist each distinct call to an exploded hidden column
    first (row replication happens once per distinct argument, the
    reference's ARRAY-JOIN-function semantics), then substitute a
    column reference. Top-level bare ``arrayJoin(x)`` items keep the
    direct generator-in-project lowering."""
    calls: dict[str, FuncCall] = {}
    top_seen: set[str] = set()

    def collect(node, top):
        if isinstance(node, Alias):
            collect(node.expr, top)
        elif isinstance(node, Cast):
            collect(node.expr, False)
        elif isinstance(node, (ArrayLiteral, TupleLiteral)):
            for a in node.items:
                collect(a, False)
        elif isinstance(node, FuncCall):
            if (node.name == "arrayJoin" and len(node.args) == 1
                    and node.window is None):
                key = _ast_key(node)
                # repeated IDENTICAL expressions are evaluated once (the
                # reference's common-subexpression elimination — the CH
                # arrayJoin doc's "use arrayConcat(arr, []) to force a
                # second explode"); a single top-level call keeps the
                # direct generator lowering
                if not top or key in top_seen or key in calls:
                    calls.setdefault(key, node)
                else:
                    top_seen.add(key)
                return
            for a in node.args:
                if not isinstance(a, (Lambda, Subquery)):
                    collect(a, False)

    # walk the ALIAS-INLINED form: ``SELECT arrayJoin(a) AS t, t.1``
    # nests the same call under tupleElement once t inlines, so the
    # shared explode is discovered (and CSE'd) here
    inlined = [_inline(it, ctx) for it in q.select]
    for it in inlined:
        collect(it, True)
    # ORDER BY can reference a bare top-level arrayJoin through its
    # alias (`SELECT arrayJoin(m) AS kv ORDER BY kv.1`); the Sort node
    # cannot hold a generator, so such calls must hoist too — walking
    # them as non-top forces the shared hidden-column lowering
    for it_o in q.order_by:
        collect(_inline(it_o.expr, ctx), False)
    # WHERE predicates referencing an arrayJoin result were deferred by
    # the caller; they filter post-expansion, so their calls hoist too
    inlined_preds = [_inline(p, ctx) for p in extra_preds]
    for pred in inlined_preds:
        collect(pred, False)
    if not calls:
        return q, df, list(extra_preds)
    import copy
    from pyspark.sql.types import MapType
    slots: dict[str, str] = {}
    for i, (key, node) in enumerate(calls.items()):
        slot = f"__ajn{i}"
        col = _eval(_inline(node.args[0], ctx), ctx, df)
        try:
            if isinstance(df.select(col).schema[0].dataType, MapType):
                # CH arrayJoin over a Map iterates its (key, value)
                # tuples — one column, not Spark's two-column explode
                col = F.map_entries(col)
        except Exception:
            pass
        df = df.select("*", F.explode(col).alias(slot))
        slots[key] = slot

    def subst(node, top):
        if isinstance(node, Alias):
            return Alias(subst(node.expr, top), node.alias)
        if isinstance(node, Cast):
            return Cast(subst(node.expr, False), node.type_name)
        if isinstance(node, ArrayLiteral):
            return ArrayLiteral([subst(a, False) for a in node.items])
        if isinstance(node, TupleLiteral):
            return TupleLiteral([subst(a, False) for a in node.items])
        if isinstance(node, FuncCall):
            if _ast_key(node) in slots:
                return Identifier([slots[_ast_key(node)]])
            args = [a if isinstance(a, (Lambda, Subquery))
                    else subst(a, False) for a in node.args]
            return FuncCall(node.name, args, node.params, node.distinct,
                            node.filter_where, node.window,
                            node.nulls_modifier)
        return node

    q = copy.copy(q)
    new_select = []
    for orig, it in zip(q.select, inlined):
        rewritten = subst(it, True)
        if rewritten is not it and not isinstance(orig, Alias):
            # keep the ORIGINAL expression text as the output name
            rewritten = Alias(rewritten, _auto_name(orig))
        elif rewritten is it:
            rewritten = orig    # untouched: keep the pre-inline form
        new_select.append(rewritten)
    q.select = new_select
    # re-point aliases at the substituted expressions: ORDER BY /
    # HAVING inline through ctx.aliases, which must now reference the
    # hidden exploded slot, not the original generator call
    for it in q.select:
        if isinstance(it, Alias):
            ctx.aliases[it.alias] = it.expr
    ctx.columns = list(df.columns)
    return q, df, [subst(pred, False) for pred in inlined_preds]


# --- WHERE ------------------------------------------------------------------

def _collect_ident_names(node, out: set) -> None:
    if isinstance(node, Identifier):
        out.add(node.parts[-1])
    elif isinstance(node, (Alias, Cast)):
        _collect_ident_names(node.expr, out)
    elif isinstance(node, FuncCall):
        for a in node.args:
            if not isinstance(a, (Subquery, Lambda)):
                _collect_ident_names(a, out)
    elif isinstance(node, (ArrayLiteral, TupleLiteral)):
        for a in node.items:
            _collect_ident_names(a, out)


def _rewrite_corr(node, inner_cols: set):
    """Rewrite a correlated predicate: identifiers resolving to inner
    (subquery) columns get the __sub_ prefix; inner wins on ambiguity
    (CH inner-first scoping). Outer refs drop their qualifier."""
    if isinstance(node, Identifier):
        last = node.parts[-1]
        if last in inner_cols:
            return Identifier(["__sub_" + last])
        return Identifier([last])
    if isinstance(node, Alias):
        return Alias(_rewrite_corr(node.expr, inner_cols), node.alias)
    if isinstance(node, Cast):
        return Cast(_rewrite_corr(node.expr, inner_cols), node.type_name)
    if isinstance(node, FuncCall):
        return FuncCall(node.name,
                        [_rewrite_corr(a, inner_cols) for a in node.args],
                        node.params, node.distinct, node.filter_where,
                        node.window, node.nulls_modifier)
    if isinstance(node, (ArrayLiteral, TupleLiteral)):
        return type(node)([_rewrite_corr(a, inner_cols) for a in node.items])
    return node


def _decorrelate(df: DataFrame, sub_ast, ctx: Context,
                 in_key: Column | None = None,
                 anti: bool = False) -> DataFrame | None:
    """Correlated EXISTS / IN (SELECT ...) → left_semi / left_anti join.

    The subquery's WHERE conjuncts are split: those referencing only
    inner columns filter the inner side; those referencing outer columns
    become join conditions (inner identifiers renamed __sub_* so the
    join condition resolves unambiguously). Spark then plans an ordinary
    hash semi-join — broadcastable, AQE-eligible — instead of a per-row
    re-execution. Returns None if the pattern is not decorrelatable
    (caller falls back to the uncorrelated paths)."""
    if not isinstance(sub_ast, SelectQuery):
        return None
    if (sub_ast.group_by or sub_ast.having or sub_ast.ctes
            or sub_ast.prewhere or sub_ast.distinct or sub_ast.limit_by):
        return None
    if in_key is not None and (sub_ast.limit is not None or sub_ast.order_by):
        return None
    from dataclasses import replace
    inner_sel = replace(sub_ast, select=[Star()], where=None, order_by=[],
                        limit=None, offset=None, windows={}, settings={})
    inner_df = _build_select(inner_sel, ctx)
    inner_cols = set(inner_df.columns)
    outer_cols = set(df.columns)
    conjs: list = []

    def flat(n):
        if isinstance(n, FuncCall) and n.name == "and":
            for a in n.args:
                flat(a)
        elif n is not None:
            conjs.append(n)

    flat(sub_ast.where)
    uncorr, corr = [], []
    for c in conjs:
        names: set = set()
        _collect_ident_names(c, names)
        if any(n not in outer_cols and n not in inner_cols
               and n not in ctx.aliases for n in names):
            return None
        if any(n in outer_cols and n not in inner_cols for n in names):
            corr.append(c)
        else:
            uncorr.append(c)
    if not corr:
        return None                      # uncorrelated: existing paths
    for c in uncorr:
        inner_df = inner_df.filter(_as_filter(inner_df, _eval(c, ctx, inner_df), c, ctx))
    if in_key is not None:
        item = sub_ast.select[0]
        if isinstance(item, Alias):
            item = item.expr
        inner_df = inner_df.withColumn("__in_val",
                                       _eval(item, ctx, inner_df))
        inner_cols.add("__in_val")
    renamed = inner_df.select(*[F.col(c).alias("__sub_" + c)
                                for c in inner_df.columns])
    conds = [_eval(_rewrite_corr(c, inner_cols), ctx, df) for c in corr]
    if in_key is not None:
        conds.append(in_key == F.col("__sub___in_val"))
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    if anti and in_key is not None:
        # CH transform_null_in=0: a NULL lhs yields 0 for NOT IN too —
        # drop NULL-key rows the anti join would otherwise keep
        df = df.filter(in_key.isNotNull())
    return df.join(renamed, cond, "left_anti" if anti else "left_semi")


_IN_NAMES = ("in", "globalIn", "notIn", "globalNotIn")

# day-or-wider add/subtract-unit functions whose result must collapse
# back to Date when the input is a Date (CH result-type rule; the
# registry builds them over timestamps to keep DateTime time-of-day)
_DAY_WIDER_ADD_FNS = {
    "addDays", "subtractDays", "addWeeks", "subtractWeeks",
    "addMonths", "subtractMonths", "addQuarters", "subtractQuarters",
    "addYears", "subtractYears",
}


def _in_marker_pred(marker: str, lhs_node, is_not: bool):
    """(NOT) IN result from a marker-join column, as an AST predicate.
    CH transform_null_in=0: an IN operation with a NULL lhs is 0 for
    BOTH IN and NOT IN — so NOT IN is isNull(marker) AND isNotNull(lhs),
    never the bare complement."""
    if not is_not:
        return FuncCall("isNotNull", [Identifier([marker])])
    return FuncCall("and", [FuncCall("isNull", [Identifier([marker])]),
                            FuncCall("isNotNull", [lhs_node])])


def _contains_in_subquery(node) -> bool:
    if isinstance(node, FuncCall):
        if (node.name in _IN_NAMES and len(node.args) == 2
                and isinstance(node.args[1], Subquery)):
            return True
        return any(_contains_in_subquery(a) for a in node.args
                   if not isinstance(a, (Lambda, Subquery)))
    if isinstance(node, (Alias, Cast)):
        return _contains_in_subquery(node.expr)
    if isinstance(node, (ArrayLiteral, TupleLiteral)):
        return any(_contains_in_subquery(a) for a in node.items)
    return False


def _contains_expr_subquery(node) -> bool:
    """Any expression-position subquery the marker/scalar lowering can
    reach: IN (SELECT …), EXISTS(…), or a bare scalar (SELECT …)."""
    if isinstance(node, Subquery):
        return True
    if isinstance(node, FuncCall):
        if node.name == "__subqueryReduce":
            return False
        if any(isinstance(a, Subquery) for a in node.args):
            return True
        return any(_contains_expr_subquery(a) for a in node.args
                   if not isinstance(a, Lambda))
    if isinstance(node, (Alias, Cast)):
        return _contains_expr_subquery(node.expr)
    if isinstance(node, (ArrayLiteral, TupleLiteral)):
        return any(_contains_expr_subquery(a) for a in node.items)
    return False


def _groups_spec(node: FuncCall, ctx: Context) -> "WindowSpec | None":
    spec = node.window
    if isinstance(spec, str):
        spec = ctx.windows.get(spec)
    if (spec is not None and spec.frame is not None
            and spec.frame[0] == "GROUPS"):
        return spec
    return None


def _contains_groups_frame(node, ctx: Context) -> bool:
    if isinstance(node, FuncCall):
        if _groups_spec(node, ctx) is not None:
            return True
        return any(_contains_groups_frame(a, ctx) for a in node.args
                   if not isinstance(a, (Lambda, Subquery)))
    if isinstance(node, (Alias, Cast)):
        return _contains_groups_frame(node.expr, ctx)
    if isinstance(node, (ArrayLiteral, TupleLiteral)):
        return any(_contains_groups_frame(a, ctx) for a in node.items)
    return False


def _lower_groups_frames(q: SelectQuery, df: DataFrame, ctx: Context):
    """GROUPS frame mode → rank-based RANGE rewrite.

    Spark has no GROUPS frames (the reference's grammar carries them —
    ``src/Parsers/ExpressionElementParsers.cpp`` frame parsers). Peer
    groups are consecutive under the window's ORDER BY and
    ``dense_rank()`` numbers them 1,2,3,…, so ``GROUPS BETWEEN n
    PRECEDING AND m FOLLOWING`` is exactly ``RANGE BETWEEN n PRECEDING
    AND m FOLLOWING`` over that rank: a helper rank column is
    materialized per distinct GROUPS window and the frame is rewritten
    in place. One extra window pass, no shuffle beyond the window's own
    partitioning."""
    import copy

    q = copy.copy(q)
    q.select = copy.deepcopy(q.select)
    state: dict[str, str] = {}          # window-spec repr → helper column

    def rewrite(node, dfbox):
        if isinstance(node, FuncCall):
            spec = _groups_spec(node, ctx)
            if spec is not None:
                key = repr((spec.partition_by, spec.order_by))
                helper = state.get(key)
                if helper is None:
                    helper = f"__groups_rank_{len(state)}"
                    w0 = Window.partitionBy(
                        *[_eval(p, ctx, dfbox[0]) for p in spec.partition_by])
                    w0 = w0.orderBy(*[_order_col(dfbox[0], it, ctx)
                                      for it in spec.order_by])
                    dfbox[0] = dfbox[0].withColumn(
                        helper, F.dense_rank().over(w0))
                    state[key] = helper
                _, start, end = spec.frame
                node.window = WindowSpec(
                    partition_by=list(spec.partition_by),
                    order_by=[OrderItem(Identifier([helper]))],
                    frame=("RANGE", start, end))
            for a in node.args:
                if not isinstance(a, (Lambda, Subquery)):
                    rewrite(a, dfbox)
        elif isinstance(node, (Alias, Cast)):
            rewrite(node.expr, dfbox)
        elif isinstance(node, (ArrayLiteral, TupleLiteral)):
            for a in node.items:
                rewrite(a, dfbox)

    dfbox = [df]
    for item in q.select:
        rewrite(item, dfbox)
    return q, dfbox[0]


def _in_side(sub: DataFrame, alias: str) -> DataFrame:
    """Membership side of an IN join: single column as-is; a multi-
    column subquery becomes ONE tuple-typed column (_1.._n fields,
    positional rename so duplicate names are legal) matching the
    TupleLiteral lowering of the left key — CH (a, b) IN (SELECT ...)."""
    if len(sub.columns) == 1:
        return sub.select(F.col(sub.columns[0]).alias(alias))
    names = [f"_{i + 1}" for i in range(len(sub.columns))]
    return sub.toDF(*names).select(F.struct(*names).alias(alias))


def _lower_in_subqueries(df: DataFrame, node, ctx: Context,
                         drops: list[str], scalar_ok: bool = True):
    """Expression-position subqueries → distributed joins.

    Three shapes, all lowered to hash joins instead of per-row
    re-execution or driver-side collects:

    - ``x IN (SELECT …)`` (uncorrelated): the subquery's first column is
      deduplicated, tagged with a TRUE marker, and left-joined on the
      key; the IN node becomes ``isNotNull(marker)`` (``isNull`` for
      NOT IN) — CH ``transform_null_in=0`` semantics.
    - ``x IN (SELECT … WHERE inner.k = outer.k)`` and
      ``EXISTS(SELECT … WHERE inner.k = outer.k)`` (correlated,
      including under OR/NOT): marker left join on the distinct
      correlation-key tuples (``_exists_marker_join``).
    - ``(SELECT agg(x) … WHERE inner.k = outer.k)`` correlated scalar:
      groupBy-on-correlation-key + left join (``_scalar_corr_join``).

    ``scalar_ok=False`` disables the EXISTS/scalar rewrites in contexts
    where a fresh join column can't be referenced (select list of an
    aggregating query). Returns the (possibly joined) df and the
    rewritten AST node; helper column names are appended to ``drops``."""
    if isinstance(node, Subquery) and scalar_ok:
        res = _scalar_corr_join(df, node.query, ctx, drops)
        if res is not None:
            df, val = res
            return df, Identifier([val])
        # uncorrelated scalar: defer to execution via a broadcast
        # single-row cross join — no job launches at plan-build time,
        # and the 1-row contract is enforced lazily with raise_error
        # (the reference's interpreter would evaluate the subquery
        # before the outer query the same way)
        try:
            sub = _build_query(node.query, ctx.child())
        except Exception:
            return df, node         # unresolvable here: collect fallback
        if len(sub.columns) != 1:
            # CH: a multi-column scalar subquery yields a TUPLE value
            # (fields named _1.._n like every other engine tuple, so
            # element access and tuple comparison resolve unambiguously)
            names = [f"_{i + 1}" for i in range(len(sub.columns))]
            sub = (sub.toDF(*names)     # positional rename: duplicate
                   .select(F.struct(*names).alias("__sc_tup")))  # names ok
        val = f"__sc{len(drops)}"
        agg = sub.limit(2).agg(
            F.count(F.lit(1)).alias("__sc_cnt"),
            F.first(sub.columns[0]).alias("__sc_v"))
        side = agg.select(
            F.when(F.col("__sc_cnt") == 1, F.col("__sc_v"))
             .otherwise(F.raise_error(F.lit(
                 "scalar subquery must return 1 row × 1 column")))
             .alias(val))
        df = df.crossJoin(F.broadcast(side))
        drops.append(val)
        return df, Identifier([val])
    if isinstance(node, FuncCall):
        if (node.name == "exists" and len(node.args) == 1
                and isinstance(node.args[0], Subquery) and scalar_ok):
            res = _exists_marker_join(df, node.args[0].query, ctx, drops)
            if res is not None:
                df, marker = res
                return df, FuncCall("isNotNull", [Identifier([marker])])
            # uncorrelated EXISTS in expression position: a constant
            n = _build_query(node.args[0].query, ctx).limit(1).count()
            return df, Literal(n > 0)
        if (node.name in _IN_NAMES and len(node.args) == 2
                and isinstance(node.args[1], Subquery)
                and not _contains_in_subquery(node.args[0])):
            try:
                sub = _build_query(node.args[1].query, ctx.child())
            except Exception:
                sub = None          # correlated / unresolvable: fallback
            is_not = "not" in node.name.lower()
            if sub is not None:
                i = len(drops)
                marker, val = f"__in_m{i}", f"__in_v{i}"
                side = (_in_side(sub, val)
                           .distinct().withColumn(marker, F.lit(True)))
                if node.name.startswith("global"):
                    side = F.broadcast(side)
                # materialize the key as a fresh left-only column: when
                # the subquery scans the SAME table (self-join lineage),
                # an unbound name in the join condition resolves on both
                # sides and Spark raises AMBIGUOUS_REFERENCE
                keyc = f"__in_k{i}"
                df = df.withColumn(keyc, _eval(node.args[0], ctx, df))
                df = df.join(side, F.col(keyc) == F.col(val),
                             "left").drop(val, keyc)
                drops.append(marker)
                return df, _in_marker_pred(marker, node.args[0], is_not)
            res = _exists_marker_join(
                df, node.args[1].query, ctx, drops,
                in_key_node=node.args[0],
                broadcast_side=node.name.startswith("global"))
            if res is not None:
                df, marker = res
                return df, _in_marker_pred(marker, node.args[0], is_not)
        new_args, changed = [], False
        for a in node.args:
            # __subqueryReduce consumes its Subquery arg itself
            if isinstance(a, Lambda) or (isinstance(a, Subquery)
                                         and node.name == "__subqueryReduce"):
                new_args.append(a)
                continue
            df, na = _lower_in_subqueries(df, a, ctx, drops, scalar_ok)
            changed = changed or na is not a
            new_args.append(na)
        if changed:
            node = FuncCall(node.name, new_args, node.params, node.distinct,
                            node.filter_where, node.window,
                            node.nulls_modifier)
        return df, node
    if isinstance(node, Alias):
        df, e = _lower_in_subqueries(df, node.expr, ctx, drops, scalar_ok)
        return df, (Alias(e, node.alias) if e is not node.expr else node)
    if isinstance(node, Cast):
        df, e = _lower_in_subqueries(df, node.expr, ctx, drops, scalar_ok)
        return df, (Cast(e, node.type_name) if e is not node.expr else node)
    return df, node


def _split_equi_correlation(sub_ast, ctx: Context, df: DataFrame):
    """Split a correlated subquery into (inner_df, [(outer_expr_ast,
    inner_expr_ast), ...]) equality pairs.

    Conjuncts of the subquery's WHERE referencing only inner columns
    filter the inner side; outer-referencing conjuncts must be
    ``outer_expr = inner_expr`` equalities — the form a distributed hash
    join can consume without row fan-out (the reference evaluates the
    subquery per outer row instead: correlated expressions are plain
    expressions in ``ExpressionListParsers.cpp:201-285``). Returns None
    when the shape doesn't decorrelate (non-equi correlation, GROUP BY
    inside, set-returning modifiers)."""
    if not isinstance(sub_ast, SelectQuery):
        return None
    if (sub_ast.group_by or sub_ast.having or sub_ast.ctes
            or sub_ast.prewhere or sub_ast.distinct or sub_ast.limit_by
            or sub_ast.limit is not None or sub_ast.order_by):
        return None
    from dataclasses import replace
    inner_sel = replace(sub_ast, select=[Star()], where=None, order_by=[],
                        limit=None, offset=None, windows={}, settings={})
    inner_df = _build_select(inner_sel, ctx)
    inner_cols = set(inner_df.columns)
    outer_cols = set(df.columns)
    conjs: list = []

    def flat(n):
        if isinstance(n, FuncCall) and n.name == "and":
            for a in n.args:
                flat(a)
        elif n is not None:
            conjs.append(n)

    flat(sub_ast.where)
    pairs: list[tuple] = []
    uncorr: list = []
    for c in conjs:
        names: set = set()
        _collect_ident_names(c, names)
        if any(n not in outer_cols and n not in inner_cols
               and n not in ctx.aliases for n in names):
            return None
        if not any(n in outer_cols and n not in inner_cols for n in names):
            uncorr.append(c)
            continue
        if not (isinstance(c, FuncCall) and c.name == "equals"
                and len(c.args) == 2):
            return None
        sides = []
        for a in c.args:
            nn: set = set()
            _collect_ident_names(a, nn)
            if nn and all(n in inner_cols for n in nn):
                sides.append("inner")
            elif nn and all(n in outer_cols or n in ctx.aliases
                            for n in nn):
                sides.append("outer")
            else:
                return None
        if sides == ["outer", "inner"]:
            pairs.append((c.args[0], c.args[1]))
        elif sides == ["inner", "outer"]:
            pairs.append((c.args[1], c.args[0]))
        else:
            return None
    if not pairs:
        return None                      # uncorrelated: existing paths
    for c in uncorr:
        inner_df = inner_df.filter(_as_filter(inner_df, _eval(c, ctx, inner_df), c, ctx))
    return inner_df, pairs


def _exists_marker_join(df: DataFrame, sub_ast, ctx: Context,
                        drops: list[str], in_key_node=None,
                        broadcast_side: bool = False):
    """Correlated EXISTS / IN in expression position → marker left join.

    The inner side is reduced to the distinct correlation-key tuples and
    tagged TRUE, so the left join matches at most one row per outer row
    (no fan-out) and the EXISTS/IN truth value is ``marker IS NOT NULL``.
    One shuffle on the equi keys — the same 100 TB shape as the semi-join
    lowering, but usable under OR/NOT where a semi join can't filter.
    Returns (df, marker_name) or None."""
    split = _split_equi_correlation(sub_ast, ctx, df)
    if split is None:
        return None
    inner_df, pairs = split
    if in_key_node is not None:
        item = sub_ast.select[0]
        if isinstance(item, Alias):
            item = item.expr
        pairs = pairs + [(in_key_node, item)]
    i = len(drops)
    marker = f"__ex_m{i}"
    keys = [f"__ex_k{i}_{j}" for j in range(len(pairs))]
    side = (inner_df.select(*[_eval(p[1], ctx, inner_df).alias(k)
                              for p, k in zip(pairs, keys)])
            .distinct().withColumn(marker, F.lit(True)))
    if broadcast_side:
        side = F.broadcast(side)
    cond = None
    for p, k in zip(pairs, keys):
        c = _eval(p[0], ctx, df) == F.col(k)
        cond = c if cond is None else cond & c
    df = df.join(side, cond, "left").drop(*keys)
    drops.append(marker)
    return df, marker


def _scalar_corr_join(df: DataFrame, sub_ast, ctx: Context,
                      drops: list[str]):
    """Correlated scalar subquery ``(SELECT agg(x) FROM t WHERE t.k =
    outer.k)`` → groupBy-on-correlation-key + left join.

    The subquery aggregates once per distinct correlation key (one
    shuffle, map-side combine) and the outer side hash-joins the result —
    never a per-outer-row re-execution. Empty groups yield NULL like
    standard SQL; count-family aggregates coalesce to 0. Returns
    (df, value_column_name) or None when not decorrelatable (the
    uncorrelated case falls through to the bounded collect path)."""
    if not (isinstance(sub_ast, SelectQuery) and len(sub_ast.select) == 1):
        return None
    expr = sub_ast.select[0]
    if isinstance(expr, Alias):
        expr = expr.expr
    if not (isinstance(expr, FuncCall) and _is_agg_name(expr.name)):
        return None
    split = _split_equi_correlation(sub_ast, ctx, df)
    if split is None:
        return None
    inner_df, pairs = split
    i = len(drops)
    val = f"__sc_v{i}"
    keys = [f"__sc_k{i}_{j}" for j in range(len(pairs))]
    grouped = (inner_df
               .groupBy(*[_eval(p[1], ctx, inner_df).alias(k)
                          for p, k in zip(pairs, keys)])
               .agg(_agg_column(expr, ctx, inner_df).alias(val)))
    cond = None
    for p, k in zip(pairs, keys):
        c = _eval(p[0], ctx, df) == F.col(k)
        cond = c if cond is None else cond & c
    df = df.join(grouped, cond, "left").drop(*keys)
    if expr.name in ("count", "countIf", "countDistinct", "uniqExact"):
        df = df.withColumn(val, F.coalesce(F.col(val), F.lit(0)))
    drops.append(val)
    return df, val


def _as_filter(df: DataFrame, c: Column, node=None,
               ctx: "Context | None" = None) -> Column:
    """CH truthy semantics in filter position (WHERE/PREWHERE/HAVING):
    any non-zero numeric is true (``WHERE x % 2``, ``WHERE 0``) — the
    reference's filter columns are UInt8, not Bool. NULL filters drop the
    row, same as false. When the predicate AST is supplied, the result
    kind resolves statically (comparisons/logic → Boolean, inferable
    numeric → != 0) with no JVM analysis; otherwise a schema-only probe
    (no job)."""
    from pyspark.sql.types import BooleanType, NumericType, NullType
    if node is not None:
        if _is_boolish(node, df):
            return c
        if isinstance(node, Literal) and isinstance(node.value,
                                                    (int, float)) \
                and not isinstance(node.value, bool):
            return c != 0
        if ctx is not None and _infer_ch_type(node, ctx, df) is not None:
            return c != 0
    dt = df.select(c).schema[0].dataType
    if isinstance(dt, NumericType):
        return c != 0
    if isinstance(dt, NullType):
        return F.lit(False)
    if not isinstance(dt, BooleanType):
        raise BuildError(
            f"filter expression has non-boolean type {dt.simpleString()}")
    return c


def _apply_where(df: DataFrame, pred, ctx: Context) -> DataFrame:
    """WHERE with IN/EXISTS-subquery support: top-level conjuncts that are
    (not)in-subquery become semi/anti joins; the rest evaluate as Columns."""
    conjuncts: list = []

    def flat(n):
        if isinstance(n, FuncCall) and n.name == "and":
            for a in n.args:
                flat(a)
        else:
            conjuncts.append(n)

    flat(pred)
    plain: list[tuple] = []       # (ast node | None, Column)
    in_drops: list[str] = []
    for c in conjuncts:
        neg_exists = False
        if (isinstance(c, FuncCall) and c.name == "not" and len(c.args) == 1
                and isinstance(c.args[0], FuncCall)
                and c.args[0].name == "exists"):
            c, neg_exists = c.args[0], True
        if (isinstance(c, FuncCall) and c.name in ("in", "globalIn", "notIn",
                                                   "globalNotIn")
                and len(c.args) == 2 and isinstance(c.args[1], Identifier)
                and c.args[1].name in ctx.tables
                and c.args[1].name not in (df.columns if df is not None
                                           else [])):
            # x IN table → membership in the table's first column
            sub = ctx.tables[c.args[1].name]
            key = _eval(c.args[0], ctx, df)
            how = "left_anti" if "not" in c.name.lower() else "left_semi"
            side = _in_side(sub, "__in_set")
            if c.name.startswith("global"):
                side = F.broadcast(side)
            # key materialized left-only: a same-table membership check
            # is a self-join, where an unbound name in the condition
            # resolves on both sides (AMBIGUOUS_REFERENCE)
            df = df.withColumn("__in_key", key)
            if how == "left_anti":
                # NULL lhs yields 0 for NOT IN (transform_null_in=0)
                df = df.filter(F.col("__in_key").isNotNull())
            df = (df.join(side, F.col("__in_key") == F.col("__in_set"), how)
                  .drop("__in_key"))
        elif (isinstance(c, FuncCall) and c.name in ("in", "globalIn",
                                                     "notIn", "globalNotIn")
                and len(c.args) == 2 and isinstance(c.args[1], Subquery)):
            key = _eval(c.args[0], ctx, df)
            dec = _decorrelate(df, c.args[1].query, ctx, in_key=key,
                               anti="not" in c.name.lower())
            if dec is not None:
                df = dec
                continue
            sub = _build_query(c.args[1].query, ctx)
            side = _in_side(sub, "__in_set")
            how = "left_anti" if "not" in c.name.lower() else "left_semi"
            if c.name.startswith("global"):
                side = F.broadcast(side)
            # same self-join hygiene as the IN-table branch above: the
            # subquery may scan the SAME table as the outer query
            df = df.withColumn("__in_key", key)
            if how == "left_anti":
                # NULL lhs yields 0 for NOT IN (transform_null_in=0)
                df = df.filter(F.col("__in_key").isNotNull())
            df = (df.join(side, F.col("__in_key") == F.col("__in_set"), how)
                  .drop("__in_key"))
        elif (isinstance(c, FuncCall) and c.name == "exists"
              and isinstance(c.args[0], Subquery)):
            dec = _decorrelate(df, c.args[0].query, ctx, anti=neg_exists)
            if dec is not None:
                df = dec
                continue
            n = _build_query(c.args[0].query, ctx).limit(1).count()
            plain.append((None, F.lit(n == 0 if neg_exists else n > 0)))
        else:
            if neg_exists:              # restore the NOT wrapper
                c = FuncCall("not", [c])
            if _contains_expr_subquery(c):
                # IN/EXISTS/scalar subquery under OR/NOT/comparisons:
                # marker- and groupBy-join lowering keeps it distributed
                # instead of collecting to the driver
                df, c = _lower_in_subqueries(df, c, ctx, in_drops)
            plain.append((c, _eval(c, ctx, df)))
    for nd, p in plain:
        df = df.filter(_as_filter(df, p, nd, ctx))
    if in_drops:
        df = df.drop(*in_drops)
    return df


# --- aggregation ------------------------------------------------------------

def _contains_agg(node) -> bool:
    if isinstance(node, Alias):
        return _contains_agg(node.expr)
    if isinstance(node, FuncCall):
        if _is_agg_name(node.name) and node.window is None:
            return True
        return any(_contains_agg(a) for a in node.args)
    if isinstance(node, (ArrayLiteral, TupleLiteral)):
        return any(_contains_agg(a) for a in node.items)
    if isinstance(node, Cast):
        return _contains_agg(node.expr)
    return False


def _apply_aggregate(df: DataFrame, q: SelectQuery,
                     ctx: Context) -> tuple[DataFrame, list[str] | None]:
    gb = q.group_by or GroupBy([], mode="plain")
    if gb.mode == "all":
        # GROUP BY ALL: every SELECT expression without an aggregate
        gb = GroupBy([(it.expr if isinstance(it, Alias) else it)
                      for it in q.select
                      if not isinstance(it, Star) and not _contains_agg(it)],
                     mode="plain", with_totals=gb.with_totals)
    # positional keys: GROUP BY 1 refers to the first SELECT item
    # (enable_positional_arguments, on by default in the reference —
    # src/Core/Settings.h)
    if gb.exprs and q.select:
        resolved = []
        for kexpr in gb.exprs:
            if (isinstance(kexpr, Literal) and isinstance(kexpr.value, int)
                    and not isinstance(kexpr.value, bool)
                    and 1 <= kexpr.value <= len(q.select)):
                item = q.select[kexpr.value - 1]
                kexpr = item.expr if isinstance(item, Alias) else item
            resolved.append(kexpr)
        gb = GroupBy(resolved, mode=gb.mode,
                     grouping_sets=gb.grouping_sets,
                     with_totals=gb.with_totals)
    # 1. project group keys as stable columns
    key_slots: dict[str, str] = {}
    key_cols: list[Column] = []
    for i, kexpr in enumerate(gb.exprs):
        kname = f"__k{i}"
        kinl = _inline(kexpr, ctx)
        # register both raw and alias-inlined shapes: select items arrive
        # inlined, GROUP BY may reference either form
        key_slots[_ast_key(kexpr)] = kname
        key_slots[_ast_key(kinl)] = kname
        key_cols.append(_eval(kinl, ctx, df).alias(kname))
    pre = df.select("*", *key_cols) if key_cols else df
    ctx.key_slots = key_slots          # visible to grouping() lowering

    # 2. collect aggregate sub-expressions from SELECT + HAVING + ORDER BY
    agg_slots: dict[str, Column] = {}

    def collect(node):
        if isinstance(node, Alias):
            collect(node.expr)
            return
        if isinstance(node, FuncCall):
            if _is_agg_name(node.name) and node.window is None:
                slot = f"__agg{len(agg_slots)}"
                key = _ast_key(node)
                if key not in _slot_keys:
                    _slot_keys[key] = slot
                    agg_slots[slot] = _agg_column(node, ctx, df)
                    _slot_fnames[slot] = node.name
                return
            for a in node.args:
                collect(a)
        elif isinstance(node, (ArrayLiteral, TupleLiteral)):
            for a in node.items:
                collect(a)
        elif isinstance(node, Cast):
            collect(node.expr)

    _slot_keys: dict[str, str] = {}
    _slot_fnames: dict[str, str] = {}
    for item in q.select:
        collect(_inline(item, ctx))
    if q.having is not None:
        collect(_inline(q.having, ctx))
    for it in q.order_by:
        collect(_inline(it.expr, ctx))

    agg_cols = [c.alias(slot) for slot, c in agg_slots.items()]
    if not agg_cols:
        agg_cols = [F.count(F.lit(1)).alias("__agg_dummy")]

    # dedupe: raw and alias-inlined AST forms of one key both register
    # the same __k* slot, so values() can repeat a name
    knames = list(dict.fromkeys(key_slots.values()))
    if gb.mode == "rollup":
        grouped = pre.rollup(*knames)
    elif gb.mode == "cube":
        grouped = pre.cube(*knames)
    elif gb.mode == "grouping_sets":
        grouped = None
    else:
        grouped = pre.groupBy(*knames)

    # Spark's rollup/cube/groupingSets NULL-fill rolled-up key cells;
    # ClickHouse (reference era, before group_by_use_nulls existed) fills
    # the key TYPE'S DEFAULT (0 / '' / epoch) on subtotal rows — the docs'
    # ROLLUP example shows 0, not NULL. Materialize a grouping flag per
    # key during the agg (free: computed in the same Expand) and coalesce
    # each key to its default where grouping(key)=1, leaving genuine
    # NULL-valued groups (grouping=0) untouched. grouping()/grouping_id()
    # in SELECT are separate agg slots computed before this fill.
    _gf = [f"__gf{i}" for i in range(len(knames))] \
        if gb.mode in ("rollup", "cube", "grouping_sets") else []
    _gf_cols = [F.grouping(k).alias(g) for k, g in zip(knames, _gf)]

    def _fill_subtotal_keys(frame: DataFrame) -> DataFrame:
        from ..operators.joins import _type_default
        keep = [F.when(F.col(g) == 1,
                       _type_default(frame.schema[k].dataType))
                .otherwise(F.col(k)).alias(k)
                for k, g in zip(knames, _gf)]
        return frame.select(*keep, *agg_slots)

    if gb.mode == "grouping_sets":
        # ONE scan + Expand + one shuffle for every set (Spark 4
        # groupingSets), instead of a groupBy-per-set union — at scale
        # N sets would otherwise re-read the input N times
        sets = [[n for e_, n in zip(gb.exprs, knames)
                 if _ast_key(e_) in {_ast_key(e) for e in s}]
                for s in (gb.grouping_sets or [])]
        out = _fill_subtotal_keys(
            pre.groupingSets(sets, *knames).agg(*agg_cols, *_gf_cols))
    elif not knames and gb.mode == "plain" and not gb.with_totals \
            and agg_slots:
        # global aggregation over a possibly-EMPTY set: CH returns the
        # result TYPE's default (sum→0, min/max/any→0/''/epoch,
        # avg/moment family→nan), never NULL — NULL only comes from
        # Nullable inputs whose values were all skipped, which Spark's
        # own null-skipping already reproduces on non-empty sets
        out = grouped.agg(*agg_cols,
                          F.count(F.lit(1)).alias("__cnt_all"))
        wrapped = []
        for slot in agg_slots:
            c: Column = F.col(slot)
            d = _empty_set_default(_slot_fnames.get(slot, ""),
                                   out.schema[slot].dataType)
            if d is not None:
                c = F.when(F.col("__cnt_all") == 0, d).otherwise(c)
            wrapped.append(c.alias(slot))
        out = out.select(*wrapped)
    elif gb.mode in ("rollup", "cube"):
        out = _fill_subtotal_keys(grouped.agg(*agg_cols, *_gf_cols))
    else:
        out = grouped.agg(*agg_cols)

    totals_with_having = (gb.with_totals and gb.mode == "plain"
                          and q.having is not None)
    if gb.with_totals and gb.mode == "plain":
        # WITH TOTALS: groups from the plain groupBy plus ONE keyless
        # global aggregate over the same pre-aggregation frame. CH's
        # TotalsHavingTransform emits the totals block unconditionally —
        # even when zero rows survive WHERE (default-initialized states:
        # sum→0, count→0) — which a GROUPING SETS ((keys), ()) lowering
        # cannot reproduce (Spark yields no rows at all on empty input).
        # Scale: the keyless pass map-side partial-aggregates to one row
        # per partition, so its shuffle is ~numPartitions rows; the
        # grouped pass shuffles once on the keys — cheaper overall than
        # the 2× Expand row duplication of the grouping-sets form.
        # the totals row carries a __totals marker through projection so
        # the outer pipeline can keep it OUT of ORDER BY/LIMIT and
        # append it as the trailing block (CH: TotalsHavingTransform
        # emits totals as a SEPARATE block after the sorted result)
        tot0 = _totals_row(pre, agg_cols, list(agg_slots), _slot_fnames,
                           out, knames).withColumn("__totals", F.lit(1))
        out = (out.select(*knames, *agg_slots)
               .withColumn("__totals", F.lit(0))
               .unionByName(tot0))
    elif gb.with_totals:
        # ROLLUP/CUBE/GROUPING SETS WITH TOTALS: CH emits the totals
        # block IN ADDITION to the subtotal rows the mode itself
        # produces (TotalsHavingTransform is downstream of the
        # grouping-set expansion), so the all-NULL-keys totals row
        # appears twice in the stream — once from ROLLUP's grand total,
        # once from TOTALS. Never silently dropped.
        if q.having is not None:
            raise BuildError(
                "WITH TOTALS combined with HAVING is only supported for "
                "plain GROUP BY (totals_mode semantics over grouping "
                "sets are not lowered)")
        tot0 = _totals_row(pre, agg_cols, list(agg_slots), _slot_fnames,
                           out, knames).withColumn("__totals", F.lit(1))
        out = (out.select(*knames, *agg_slots)
               .withColumn("__totals", F.lit(0))
               .unionByName(tot0))

    cap = _limit_setting(ctx, "max_rows_to_group_by")
    if cap is not None:
        # Settings.h:288-289 — limit on distinct group keys, checked on
        # the aggregated frame before HAVING (CH checks during
        # aggregation; the group count is identical). With ROLLUP/CUBE/
        # TOTALS the subtotal rows count toward the cap (each is a key
        # of the expanded grouping-set aggregation). 'any' mode raises
        # in _overflow_mode — not silently approximated.
        out = _enforce_row_cap(
            out, cap, _overflow_mode(ctx, "group_by_overflow_mode"),
            "max_rows_to_group_by")

    # 3. evaluate outer SELECT expressions over the aggregated frame
    ctx.key_slots = key_slots          # ast-repr → __k* column
    ctx.agg_slots = dict(_slot_keys)   # ast-repr → __agg* column

    if q.having is not None:
        tot = None
        if totals_with_having:
            tot = out.filter(F.col("__totals") != 0)
            out = out.filter(F.col("__totals") == 0)
        hv = _inline(q.having, ctx)
        if _contains_expr_subquery(hv):
            # HAVING with IN/EXISTS/scalar subqueries: aggregates and
            # group keys are already materialized as __agg*/__k* columns,
            # so substitute slot references into the AST and reuse the
            # distributed marker-join lowering against the aggregated
            # frame — no driver-side collect (CH evaluates HAVING as a
            # plain filter over the aggregated block).
            hdrops: list[str] = []
            out, hv = _lower_in_subqueries(out, _slotify(hv, ctx), ctx,
                                           hdrops)
            out = out.filter(_as_filter(out, _eval_post(hv, out, ctx), hv, ctx))
            if hdrops:
                out = out.drop(*hdrops)
        else:
            out = out.filter(_as_filter(out, _eval_post(hv, out, ctx), hv, ctx))
        if tot is not None:
            # totals_mode (Settings.h:109-110): before_having keeps the
            # all-rows totals; the after_having_* family (CH default
            # after_having_exclusive — the modes differ only under
            # group-by overflow, which this engine does not replicate)
            # recomputes totals over the underlying rows of the groups
            # that PASSED HAVING — one semi-join + one global aggregate.
            mode = str(ctx.settings.get("totals_mode",
                                        "after_having_exclusive")) \
                .strip("'\"")
            if mode != "before_having" and knames:
                survivors = out.select(*knames).alias("__sv")
                pre_a = pre.alias("__pre")
                jc = None
                for k in knames:        # null-safe: NULL group keys are
                    c = F.col(f"__pre.{k}").eqNullSafe(F.col(f"__sv.{k}"))
                    jc = c if jc is None else (jc & c)   # real groups
                pre_f = pre_a.join(survivors, on=jc, how="left_semi")
                # CH still emits the totals block when zero groups pass
                # HAVING — default-initialized, same as the empty-WHERE
                # case — so wrap with the empty-set defaults here too.
                tot = _totals_row(pre_f, agg_cols, list(agg_slots),
                                  _slot_fnames, out,
                                  knames).withColumn("__totals", F.lit(1))
            out = out.unionByName(tot)

    proj = []
    names: list[str] = []
    used: dict[str, int] = {}
    for item in q.select:
        node = _inline(item, ctx)
        if isinstance(node, Star):
            for c in out.columns:
                if c.startswith("__"):
                    continue
                slot = _uniq_slot(c, used)
                proj.append(_name_col(c).alias(slot))
                names.append(slot)
            continue
        name = node.alias if isinstance(node, Alias) else _auto_name(node)
        expr = node.expr if isinstance(node, Alias) else node
        slot = _uniq_slot(name, used)
        proj.append(_eval_post(expr, out, ctx).alias(slot))
        names.append(slot)
    if proj and "__totals" in out.columns:
        # carry the totals marker through the projection: the outer
        # pipeline appends the totals block AFTER sort/limit
        proj.append(F.col("__totals"))
    return (out.select(*proj) if proj else out), (names or None)


def _totals_row(src: DataFrame, agg_cols: list, slot_names: list,
                slot_fnames: dict, schema_src: DataFrame,
                knames: list) -> DataFrame:
    """One totals row (keys = type defaults) for WITH TOTALS: keyless global
    aggregate over ``src``. Spark's global agg always emits exactly one
    row, so the totals block survives an empty input — matching CH's
    unconditional totals emission — with empty-set aggregate defaults
    (sum→0, count→0, avg→nan) applied when zero rows contributed."""
    from ..operators.joins import _type_default
    t = src.agg(*agg_cols, F.count(F.lit(1)).alias("__cnt_all"))
    # totals key cells carry the key TYPE'S DEFAULT (0/''/epoch), not
    # NULL — same fill rule as ROLLUP/CUBE subtotal rows (pre-
    # group_by_use_nulls ClickHouse semantics)
    cols = [_type_default(schema_src.schema[k].dataType).alias(k)
            for k in knames]
    for slot in slot_names:
        c: Column = F.col(slot)
        d = _empty_set_default(slot_fnames.get(slot, ""),
                               t.schema[slot].dataType)
        if d is not None:
            c = F.when(F.col("__cnt_all") == 0, d).otherwise(c)
        cols.append(c.alias(slot))
    return t.select(*cols)


_NUMERIC_AGG_PREFIXES = (
    "sum", "avg", "quantile", "median", "stddev", "var", "covar", "corr",
    "skew", "kurt", "deltaSum", "boundingRatio", "rankCorr")


# aggregates whose PUBLISHED signature takes leading parameters and
# whose registry implementation consumes them as leading args (the
# explicitly-dispatched parametric families — quantile*, topK, GK,
# windowFunnel, sequence*, sumMapFiltered, … — are handled before the
# generic path and not listed here)
_GENERIC_PARAMETRIC_AGGS = {
    "groupArray", "groupUniqArray", "groupConcat",
    "groupArrayMovingSum", "groupArrayMovingAvg", "groupArrayInsertAt",
    "sparkbar", "sparkBar", "largestTriangleThreeBuckets", "lttb",
    "meanZTest",
}


# aggregate CONSTRUCTORS in pyspark.sql.functions: in window position
# each primitive aggregate leaf must get .over(w) applied individually —
# composite aggregates (uniqExact's null flag, -OrNull's count gate,
# quantileExact's sorted collect, groupArray(N)'s slice) are arithmetic
# OVER several windowed aggregates, and Column.over on the composite
# root leaves the inner AggregateExpressions bare (MISSING_GROUP_BY).
_AGG_CONSTRUCTORS = (
    "sum", "count", "avg", "mean", "min", "max", "first", "last",
    "collect_list", "collect_set", "stddev_pop", "stddev_samp",
    "var_pop", "var_samp", "covar_pop", "covar_samp", "corr",
    "skewness", "kurtosis", "approx_count_distinct", "percentile",
    "percentile_approx", "median", "mode", "min_by", "max_by",
    "bit_and", "bit_or", "bit_xor", "histogram_numeric", "any_value",
    "bool_and", "bool_or", "product",
)


@contextmanager
def _windowed_agg_constructors(w):
    """Scoped patch: every aggregate constructor returns its column
    already .over(w)-wrapped, so ANY composite the registry builds
    becomes post-processing over windowed aggregates — the CH contract
    that every aggregate works as a window function. DISTINCT
    aggregates are rewritten to set-collection (Spark rejects DISTINCT
    window aggregates; size(collect_set) ≡ count_distinct over the
    frame). Single-threaded builder; restored in finally."""
    import pyspark.sql.functions as FF
    saved = {n: getattr(FF, n) for n in _AGG_CONSTRUCTORS}
    saved_cd = FF.count_distinct

    def mk(fn):
        def g(*a, **k):
            return fn(*a, **k).over(w)
        return g

    def cd(*cols):
        col = cols[0] if len(cols) == 1 else FF.struct(*cols)
        return F.size(saved["collect_set"](col).over(w))

    try:
        for n, fn in saved.items():
            setattr(FF, n, mk(fn))
        FF.count_distinct = cd
        FF.countDistinct = cd
        yield
    finally:
        for n, fn in saved.items():
            setattr(FF, n, fn)
        FF.count_distinct = saved_cd
        FF.countDistinct = saved_cd


def _agg_column(node: FuncCall, ctx: Context, df: DataFrame,
                over=None) -> Column:
    """Lower one aggregate call, then apply the CH empty-subset rule:
    an -If / FILTER(WHERE) aggregate whose condition never fires — and
    any aggregate over an empty WINDOW FRAME (`over` is the Spark
    WindowSpec when called from _window_call) — behaves exactly like an
    aggregate over an empty set: default-initialized state (sum→0,
    min/max→type default, avg→nan), never NULL. Spark yields NULL in
    both positions, so gate on the matched-row count per group/frame.
    -OrNull keeps NULL; count* is already 0; Nullable arguments keep
    NULL (AggregateFunctionNull)."""
    try:
        if over is not None:
            # window position: each aggregate LEAF gets .over applied as
            # it is constructed, so composite aggregates (uniq null
            # flags, -OrNull gates, sorted-collect quantiles, parametric
            # slices) work as window functions like in CH
            with _windowed_agg_constructors(over):
                result = _agg_column_inner(node, ctx, df)
        else:
            result = _agg_column_inner(node, ctx, df)
    except (TypeError, IndexError) as e:
        # never leak a raw Python TypeError from the registry dispatch —
        # a non-parametric aggregate given parameters (sum(1)(x)) or a
        # wrong-arity call surfaces as a NAMED engine error
        raise BuildError(
            "wrong number of arguments or parameters for aggregate "
            f"function {node.name}: {e}") from None
    name = node.name
    if node.filter_where is not None:
        cond_node, base = node.filter_where, name
        value_nodes = node.args
    elif (name.endswith("If") and len(name) > 2 and node.args
            and not node.distinct):
        cond_node, base = node.args[-1], name[:-2]
        value_nodes = node.args[:-1]
    elif over is not None:
        cond_node, base = None, name    # empty-frame rule, plain agg
        value_nodes = node.args
    else:
        return result
    low = base.lower()
    if low.startswith("count") or any(low.endswith(s) for s in
            ("ornull", "state", "merge", "mergestate")):
        return result
    # the default applies only to non-Nullable arguments — CH's
    # AggregateFunctionNull wrapper keeps NULL for Nullable inputs with
    # no aggregated values. Spark's nullable flag is the proxy (exact
    # for in-memory frames; file scans force nullable, matching the
    # Nullable reading).
    for vn in value_nodes:
        if isinstance(vn, (Star, Lambda)):
            continue
        try:
            vc = _eval(_inline(vn, ctx), ctx, df)
            if df.select(vc).schema[0].nullable:
                return result
        except Exception:
            return result
    try:
        dt = df.select(result).schema[0].dataType
    except Exception:
        return result
    d = _empty_set_default(base, dt)
    if d is None:
        return result
    if cond_node is not None:
        cond = _eval(_inline(cond_node, ctx), ctx, df).cast("boolean")
        matched = F.count(F.when(cond, F.lit(1)))
    else:
        matched = F.count(F.lit(1))
    if over is not None:
        matched = matched.over(over)
    return F.when(matched > 0, result).otherwise(d)


def _agg_column_inner(node: FuncCall, ctx: Context,
                      df: DataFrame) -> Column:
    """Lower one aggregate call: -If/-Distinct combinators, FILTER(WHERE),
    parametric form."""
    name = node.name
    if name in ("grouping", "GROUPING"):
        # grouping(expr): 1 on subtotal rows where expr is aggregated
        # away (standard SQL / Spark semantics); the argument must match
        # a GROUP BY key, resolved through its __k* slot
        ks = ctx.key_slots or {}
        slots = []
        for a in node.args:
            slot = ks.get(_ast_key(a)) or ks.get(_ast_key(_inline(a, ctx)))
            if slot is None:
                raise BuildError("grouping() argument must be a GROUP BY "
                                 "expression")
            slots.append(F.col(slot))
        return (F.grouping(slots[0]) if len(slots) == 1
                else F.grouping_id(*slots)).cast("long")
    if name == "count" and any(isinstance(a, Star) for a in node.args):
        node = FuncCall("count", [], node.params, node.distinct,
                        node.filter_where)
    args = [_eval(_inline(a, ctx), ctx, df) for a in node.args]
    if name.startswith(_NUMERIC_AGG_PREFIXES):
        # sum(x > 5): CH aggregates predicates as UInt8 numbers. The
        # last arg of an -If variant is a condition, not a value.
        n_vals = len(args) - 1 if name.endswith("If") else len(args)
        args = [c.cast("tinyint")
                if (i < n_vals and not isinstance(a, (Lambda, Star))
                    and _is_boolish(a, df))
                else c
                for i, (a, c) in enumerate(zip(node.args, args))]
    params = [a.value if isinstance(a, Literal) else _eval(a, ctx, df)
              for a in node.params]
    cond = None
    if node.filter_where is not None:
        # truthy FILTER (WHERE x % 2) — same coercion as WHERE position
        cond = _eval(_inline(node.filter_where, ctx), ctx, df) \
            .cast("boolean")
    if node.nulls_modifier is not None:
        # RESPECT/IGNORE NULLS only exists for the any family (CH rejects
        # it elsewhere); never silently drop the modifier
        if name not in ("any", "anyLast") or node.distinct or cond is not None:
            raise BuildError(
                f"{node.nulls_modifier.upper()} NULLS not supported here "
                f"(aggregate {name})")
        f = F.first if name == "any" else F.last
        return f(args[0], ignorenulls=(node.nulls_modifier == "ignore"))
    if node.distinct:
        if name == "count" and args:
            # count_distinct_implementation (Settings.h:210, default
            # uniqExact): count(DISTINCT ...) lowers as the configured
            # uniq-family aggregate; uniqExact keeps the exact path below
            impl = str(ctx.settings.get("count_distinct_implementation",
                                        "uniqExact")).strip("'\"")
            if impl != "uniqExact":
                if impl not in ("uniq", "uniqCombined", "uniqCombined64",
                                "uniqHLL12"):
                    raise BuildError(
                        f"count_distinct_implementation = {impl!r} is not "
                        f"a uniq-family aggregate")
                a = [F.when(cond, x) for x in args] if cond is not None \
                    else list(args)
                return ch(impl, *a)
        if name in ("count", "sum"):
            # FILTER composes with DISTINCT: nulled-out rows are ignored
            # by the distinct aggregation. count(DISTINCT x) is CH's
            # uniqExact: NULL counts as a distinct value, so add the
            # any-real-NULL flag (restricted to FILTER-matching rows).
            if name == "count" and len(args) == 1:
                raw = args[0]
                isnull = (raw.isNull() if cond is None else
                          (F.coalesce(cond, F.lit(False)) & raw.isNull()))
                a0 = F.when(cond, raw) if cond is not None else raw
                flag = F.coalesce(
                    F.max(F.when(isnull, 1).otherwise(0)), F.lit(0))
                return (F.count_distinct(a0) + flag).cast("long")
            if cond is not None:
                args = [F.when(cond, a) for a in args]
            return (F.count_distinct(*args) if name == "count"
                    else F.sum_distinct(*args))
        if params:
            raise BuildError(
                f"DISTINCT with parametric aggregate {name} not supported")
        # Resolved below via REGISTRY or the generic -Distinct combinator
        # (resolve_aggregate); unresolvable names raise — the DISTINCT
        # modifier is never silently dropped.
        name = name + "Distinct"
    if cond is not None:
        if name + "If" in REGISTRY:
            return ch(name + "If", *args, cond) if args else ch("countIf", cond)
        resolved = resolve_aggregate(name + "If")
        if resolved is not None:
            try:
                return resolved(*args, cond) if args else resolved(cond)
            except ValueError as e:
                raise BuildError(str(e)) from None
        raise BuildError(f"FILTER not supported for {name}")
    if name.endswith("If") and name in REGISTRY and not params:
        return ch(name, *args)
    if name.endswith("If") and len(name) > 2 and params:
        # parametric + -If combo (topKIf(2)(x, cond)): peel the If here
        # so the parametric dispatch below sees the base name
        cond_col = args[-1].cast("boolean")   # CH truthy condition
        args = [F.when(cond_col, a) for a in args[:-1]]
        name = name[:-2]
    # parametric + -OrNull / -Array combos (quantileExactExclusiveOrNull
    # (0.5)(x), quantileArray(0.5)(arr)): peel like the -If peel above —
    # OrNull = NULL on an empty set instead of the type default; Array =
    # aggregate over the flattened array elements
    # (restricted to quantile/median: every other parametric return
    # below would silently drop the peeled modifier otherwise)
    _ornull_src = None
    if params and name.endswith("OrNull") and name not in REGISTRY \
            and name[:-6].startswith(("quantile", "median")):
        _ornull_src = args[0] if args else F.lit(1)
        name = name[:-6]

    def _ornull(out: Column) -> Column:
        if _ornull_src is None:
            return out
        return F.when(F.count(_ornull_src) > 0, out)

    if params and name.endswith("Array") and name not in REGISTRY \
            and name[:-5].startswith(("quantile", "median")) and args:
        from ..functions.aggregates import quantile_flat
        base = name[:-5]
        flat = F.flatten(F.collect_list(args[0]))
        if base.startswith("quantiles"):
            out = F.array(*[quantile_flat(base, flat, float(p))
                            for p in params])
        else:
            out = quantile_flat(base, flat, float(params[0]))
        return _ornull(out)
    if name == "quantileGK" and len(params) == 2:
        # GK sketch: (accuracy, level)(x)
        return ch(name, int(params[0]), float(params[1]), *args)
    if name == "quantilesGK" and len(params) >= 2:
        return ch(name, int(params[0]), [float(p) for p in params[1:]],
                  *args)
    if name.startswith("quantiles") and params:
        out = ch(name, params, *args)
        w = _widen_sum_target(name, args, df)
        return _ornull(out.cast(w) if w else out)
    if (name.startswith("quantile") or name.startswith("median")) and params:
        out = ch(name, params[0], *args)
        w = _widen_sum_target(name, args, df)
        return _ornull(out.cast(w) if w else out)
    if name in ("topK", "histogram", "groupArraySample", "groupArrayLast",
                "topKWeighted", "uniqUpTo", "groupArraySorted") and params:
        return ch(name, int(params[0]), *args)
    if name == "windowFunnel" and params:
        # windowFunnel(window[, 'strict_order'|'strict_dedup'|
        # 'strict_increase'…]) — modes pass through, never dropped
        return ch(name, float(params[0]),
                  *[str(p).strip("'\"") for p in params[1:]], *args)
    if name == "exponentialMovingAverage" and params:
        return ch(name, float(params[0]), *args)
    if name in ("sequenceMatch", "sequenceCount") and params:
        return ch(name, str(params[0]), *args)
    if name in ("stochasticLinearRegression",
                "stochasticLogisticRegression"):
        from ..functions.aggregates import ml_regression
        try:
            return ml_regression(name == "stochasticLogisticRegression",
                                 params, args)
        except ValueError as e:
            raise BuildError(str(e)) from None
    if name == "count" and not args:
        return F.count(F.lit(1))
    if name == "sumMapFiltered" and params and len(args) == 2:
        # sumMapFiltered(keys_to_keep)(k, v): drop non-listed keys from
        # each row's arrays, then the plain sumMap per-group fold
        keep = (params[0] if isinstance(params[0], Column)
                else F.array(*[F.lit(v) for v in params[0]]))
        pairs = F.zip_with(args[0], args[1],
                           lambda k, v: F.struct(k.alias("k"),
                                                 v.alias("v")))
        flt = F.filter(pairs, lambda p: F.array_contains(keep, p.k))
        return _map_agg("sumMap", F.transform(flt, lambda p: p.k),
                        F.transform(flt, lambda p: p.v), df)
    if name == "groupArrayInsertAt" and len(args) == 2 and not params:
        # plain form fills gaps with the VALUE type's default
        # (IDataType::getDefault) — resolved here where the schema is
        from ..functions.aggregates import _group_array_insert_at
        dtp = _probe_dtype(node.args[0], args[0], ctx, df)
        d = _empty_set_default("", dtp) if dtp is not None else None
        return _group_array_insert_at(d, args[0], args[1]) if d is not None \
            else _group_array_insert_at(args[0], args[1])
    if name in ("sumMap", "minMap", "maxMap") and len(args) == 2:
        return _map_agg(name, args[0], args[1], df)
    if name in ("sumMap", "minMap", "maxMap") and len(args) == 1:
        # map-argument form: merge per-row maps, return a map
        return _map_agg(name, F.map_keys(args[0]), F.map_values(args[0]),
                        df, as_map=True)
    widen = _widen_sum_target(name, args, df)
    if (params and len(params) == 1
            and name in ("uniqCombined", "uniqCombined64")):
        # uniqCombined(HLL_precision)(x): the precision parameter tunes
        # the sketch's memory/error trade-off (public signature); the
        # HLL backing here uses its default rsd either way
        params = []
    if params and name in REGISTRY:
        # parametric form f(p...)(args) without explicit dispatch above:
        # params lead (CH convention). Only the names that DOCUMENT
        # parameters may take this path — a variadic or
        # arity-coinciding registry entry would otherwise silently
        # absorb the params as extra arguments (uniqExact(1)(x) must be
        # an error, not count_distinct(1, x)).
        if name not in _GENERIC_PARAMETRIC_AGGS:
            raise BuildError(
                f"aggregate function {name} cannot have parameters")
        out = ch(name, *params, *args)
        return out.cast(widen) if widen else out
    if name in REGISTRY:
        out = ch(name, *args)
        return out.cast(widen) if widen else out
    if name.endswith("Resample") and params and len(params) >= 3:
        # -Resample(start, end, step)(args..., key): one aggregate per
        # bucket, expanded statically (params are literals) — stays a
        # single pass with map-side combine per bucket
        base = resolve_aggregate(name[: -len("Resample")])
        if base is not None:
            start, end, step = (int(params[0]), int(params[1]),
                                int(params[2]))
            key, vals = args[-1], args[:-1]
            buckets = []
            for lo in range(start, end, step):
                cond = (key >= F.lit(lo)) & (key < F.lit(lo + step))
                buckets.append(
                    base(*[F.when(cond, v) for v in vals]) if vals
                    else base(F.when(cond, F.lit(1))))
            return F.array(*buckets)
    if name in ("uniqState", "uniqHLL12State", "uniqCombinedState",
                "uniqCombined64State") and args and df is not None:
        # hll_sketch_agg accepts int/bigint/string/binary only: widen
        # narrow integrals (CH UInt8/16 land as tinyint/smallint after
        # the wrap-modulo lowering) and stringify other types
        try:
            dt = df.select(args[0].alias("__p")).schema[0] \
                .dataType.simpleString()
        except Exception:
            dt = None
        if dt in ("tinyint", "smallint", "boolean"):
            args = [args[0].cast("bigint"), *args[1:]]
        elif dt is not None and dt not in ("int", "bigint", "string",
                                           "binary"):
            args = [args[0].cast("string"), *args[1:]]
    combined = resolve_aggregate(name)
    if combined is not None:
        try:
            out = combined(*args)
        except ValueError as e:
            raise BuildError(str(e)) from None
        return out.cast(widen) if widen else out
    raise BuildError(f"unknown aggregate: {name}")


_NAN_EMPTY_AGGS = _re_mod.compile(
    r"(?i)^(avg|var|stddev|covar|corr|skew|kurt|quantile|median|entropy"
    r"|rankCorr|mannWhitney|welchTTest|studentTTest)")


def _empty_set_default(name: str, dtype) -> Column | None:
    """CH empty-set result for a keyless aggregate: the result type's
    default value (getLeastSupertype/IDataType::getDefault semantics for
    aggregates without keys) — 0 / '' / false / epoch / [] — with the
    moment family yielding nan (0/0 in Float64). -OrNull keeps NULL,
    -State/-Merge keep their sketch carriers. None = leave as built."""
    low = name.lower()
    if any(low.endswith(sfx) for sfx in
           ("ornull", "state", "merge", "mergestate")):
        return None
    dts = dtype.simpleString()
    if _NAN_EMPTY_AGGS.match(name) and dts in ("double", "float"):
        # cast: a bare double NaN literal would promote a Float32-typed
        # aggregate (e.g. quantileTDigest) to double via when/otherwise
        return F.lit(float("nan")).cast(dts)
    if dts in ("tinyint", "smallint", "int", "bigint", "float",
               "double") or dts.startswith("decimal"):
        return F.lit(0).cast(dts)
    if dts == "string":
        return F.lit("")
    if dts == "boolean":
        return F.lit(False)
    if dts == "date":
        return F.to_date(F.lit("1970-01-01"))
    if dts.startswith("timestamp"):
        return F.to_timestamp(F.lit("1970-01-01 00:00:00")).cast(dts)
    if dts.startswith("array<"):
        return F.array().cast(dts)
    if dts.startswith("struct<"):
        # tuple results (sumMap, argMin tuple forms): per-field defaults
        fields = []
        for f in dtype.fields:
            fd = _empty_set_default("", f.dataType)
            if fd is None:
                return None
            fields.append(fd.alias(f.name))
        return F.struct(*fields)
    if dts.startswith("map<"):
        return F.create_map().cast(dts)
    return None


def _array_default_fns(name: str, node, cols: list,
                       df: DataFrame, ctx: Context) -> Column | None:
    """Type-default semantics that need the element type (CH fills with
    the TYPE's default, Spark with NULL): arrayShiftLeft/Right without
    an explicit fill pad with 0/''/false/[]; arrayElement out of bounds
    returns the default for non-Nullable elements (Spark containsNull
    False) and NULL for Nullable ones — the CH Nullable default."""
    from pyspark.sql.types import ArrayType, MapType
    dt = _probe_dtype(node.args[0], cols[0], ctx, df)
    if dt is None:
        return None
    if isinstance(dt, MapType) and name == "arrayElement" \
            and len(node.args) == 2:
        # m['missing'] returns the VALUE type's default in CH (0 / '' /
        # false), NULL only for Nullable values — same rule as arrays
        vt = dt.valueType.simpleString()
        vdefault = {"string": F.lit("")}.get(vt)
        if vt in ("tinyint", "smallint", "int", "bigint", "float",
                  "double") or vt.startswith("decimal"):
            vdefault = F.lit(0).cast(vt)
        elif vt == "boolean":
            vdefault = F.lit(False)
        elif vt.startswith("array<"):
            vdefault = F.array().cast(vt)
        if vdefault is None or dt.valueContainsNull:
            return None
        return F.coalesce(F.try_element_at(cols[0], cols[1]), vdefault)
    if not isinstance(dt, ArrayType):
        return None
    elem = dt.elementType.simpleString()
    if elem in ("tinyint", "smallint", "int", "bigint", "float",
                "double", "decimal"):
        default = F.lit(0).cast(elem)
    elif elem == "string":
        default = F.lit("")
    elif elem == "boolean":
        default = F.lit(False)
    elif elem.startswith("array<"):
        default = F.array().cast(elem)
    else:
        return None
    if name == "arrayElement" and len(node.args) == 2:
        # index 0 is not an error in CH — it returns the default too
        idx = cols[1] if isinstance(cols[1], Column) else F.lit(cols[1])
        safe = F.when(idx != 0, F.try_element_at(cols[0],
                                                 idx.cast("int")))
        if dt.containsNull:
            return safe                 # Nullable default IS NULL
        return F.coalesce(safe, default)
    if name.startswith("arrayShift") and len(node.args) == 2:
        return REGISTRY[name](cols[0], cols[1], default)
    return None


_WIDEN_SUM_RX = _re_mod.compile(
    r"(?:sum(?:Array|Distinct|ForEach|If|OrNull|OrDefault)+"
    r"|groupArrayMovingSum)$")

_INT_SPARK_TYPES = {"tinyint", "smallint", "int", "bigint", "boolean"}

# CH's Timing/TDigest quantile sketches return Float32 and BFloat16
# returns Float64 regardless of input type; Spark's percentile_approx
# returns the INPUT type (int in → int out), so the lowering casts the
# sketch results explicitly.
_QUANTILE_F32 = {"quantileTDigest", "quantileTiming",
                 "quantileTimingWeighted", "quantileTDigestWeighted",
                 "medianTDigest", "medianTiming"}
_QUANTILE_F32_ARR = {"quantilesTDigest", "quantilesTiming"}


def _widen_sum_target(name: str, args: list, df: DataFrame | None
                      ) -> str | None:
    """Aggregate result-type fidelity casts (CH NumberTraits + the
    quantile-sketch return types). Sum family: summing integers yields
    Int64 (Array(Int64) for the array-valued forms), never Float64 —
    the flat/array kernels in functions/aggregates.py compute in double
    (exact below 2^53 — documented policy), so the lowering casts the
    result back to the widened integer type when the argument is
    integral; deltaSum follows the same policy. Timing/TDigest
    quantiles → Float32, BFloat16 → Float64 (CH contract, independent
    of input type). Returns the Spark cast target or None."""
    if name in _QUANTILE_F32:
        return "float"
    if name in _QUANTILE_F32_ARR:
        return "array<float>"
    if name in ("quantileBFloat16", "medianBFloat16"):
        return "double"
    if df is None or not args:
        return None
    if name != "deltaSum" and not _WIDEN_SUM_RX.fullmatch(name):
        return None
    try:
        at = df.select(args[0]).schema[0].dataType.simpleString()
    except Exception:
        return None
    elem = at[6:-1] if at.startswith("array<") and at.endswith(">") else at
    if elem not in _INT_SPARK_TYPES:
        return None
    array_valued = name == "groupArrayMovingSum" or "ForEach" in name
    return "array<bigint>" if array_valued else "bigint"


def _map_agg(name: str, keys: Column, vals: Column,
             df: DataFrame, as_map: bool = False) -> Column:
    """sumMap/minMap/maxMap(keys, values): per-key reduction across the
    group, returned as CH's tuple(sorted keys array, values array).

    JVM-side shape: one map per row (map_from_arrays), collect_list per
    group, then a map_zip_with fold — group-local memory is O(distinct
    keys in group), no extra shuffle beyond the aggregation itself."""
    if name == "sumMap":
        # CH widens summed integer values to Int64 (NumberTraits), so a
        # 32-bit input can't overflow mid-group
        vt = df.select(vals.alias("__v")).schema[0].dataType.simpleString()
        if vt.startswith("array<") and vt[6:-1] in _INT_SPARK_TYPES:
            vals = vals.cast("array<bigint>")
    op = {"sumMap": lambda a, b: a + b, "minMap": F.least,
          "maxMap": F.greatest}[name]
    # a single row may repeat keys (sumMap([1,2,1], [10,20,30])) — CH
    # combines them; a direct map_from_arrays would throw
    # DUPLICATED_MAP_KEY. Fold single-entry maps with the same op,
    # entirely row-local.
    per_row = F.aggregate(
        F.zip_with(keys, vals,
                   lambda a, b: F.map_from_arrays(F.array(a),
                                                  F.array(b))),
        F.map_from_arrays(F.slice(keys, 1, 0), F.slice(vals, 1, 0)),
        lambda acc, m: F.map_zip_with(
            acc, m, lambda _, a, b: F.when(a.isNull(), b)
                                     .when(b.isNull(), a)
                                     .otherwise(op(a, b))))
    map_t = df.select(per_row.alias("__m")).schema[0].dataType.simpleString()
    merged = F.aggregate(
        F.collect_list(per_row),
        F.lit(None).cast(map_t),
        lambda acc, m: F.when(acc.isNull(), m).otherwise(
            F.map_zip_with(acc, m,
                           lambda _, a, b: F.when(a.isNull(), b)
                                            .when(b.isNull(), a)
                                            .otherwise(op(a, b)))))
    if as_map:
        return merged
    ks = F.array_sort(F.map_keys(merged))
    return F.struct(ks.alias("_1"),
                    F.transform(ks, lambda k: F.element_at(merged, k))
                    .alias("_2"))


def _slotify(node, ctx: Context):
    """Rewrite a post-aggregation AST so aggregate calls and group-key
    expressions become Identifier references to their materialized
    __agg*/__k* slot columns.  The rewritten tree contains only plain
    column references plus any expression-position subqueries, which lets
    _lower_in_subqueries run against the aggregated frame (HAVING
    position).  Subquery and Lambda nodes are left untouched — their
    bodies resolve in their own scope."""
    key = _ast_key(node)
    if ctx.agg_slots and key in ctx.agg_slots:
        return Identifier([ctx.agg_slots[key]])
    if ctx.key_slots and key in ctx.key_slots:
        return Identifier([ctx.key_slots[key]])
    if isinstance(node, Alias):
        e = _slotify(node.expr, ctx)
        return Alias(e, node.alias) if e is not node.expr else node
    if isinstance(node, Cast):
        e = _slotify(node.expr, ctx)
        return Cast(e, node.type_name) if e is not node.expr else node
    if isinstance(node, FuncCall):
        new_args = [a if isinstance(a, (Subquery, Lambda))
                    else _slotify(a, ctx) for a in node.args]
        if all(na is a for na, a in zip(new_args, node.args)):
            return node
        return FuncCall(node.name, new_args, node.params, node.distinct,
                        node.filter_where, node.window,
                        node.nulls_modifier)
    return node


def _eval_post(node, out: DataFrame, ctx: Context) -> Column:
    """Evaluate an expression after aggregation: aggregates and group keys
    are already materialized as __agg*/__k* columns."""
    key = _ast_key(node)
    if ctx.agg_slots and key in ctx.agg_slots:
        return F.col(ctx.agg_slots[key])
    if ctx.key_slots and key in ctx.key_slots:
        return F.col(ctx.key_slots[key])
    if isinstance(node, Alias):
        return _eval_post(node.expr, out, ctx)
    if isinstance(node, Cast):
        # CAST over an aggregate (round(CAST(avg(x) AS Float64), 3)):
        # substitute the materialized slot, then the normal cast path
        return _eval(_slotify(node, ctx), ctx, out)
    if isinstance(node, FuncCall):
        if _is_agg_name(node.name):
            raise BuildError(f"aggregate {node.name} not collected")
        if any(isinstance(a, Lambda) for a in node.args):
            # HOF over an aggregate result (arraySort(x->x, groupArray(y))):
            # substitute the materialized slots, then use the normal
            # lambda-binding path
            return _eval(_slotify(node, ctx), ctx, out)
        cols = [_eval_post(a, out, ctx) for a in node.args]
        return _call_fn(node, cols, ctx, out)
    if isinstance(node, Identifier):
        return _post_identifier(node, out, ctx)
    return _eval(node, ctx, out)


def _post_identifier(node: Identifier, out: DataFrame, ctx: Context) -> Column:
    if node.name in out.columns:
        return _name_col(node.name)
    if node.parts[-1] in out.columns:
        return F.col(node.parts[-1])
    if node.name in ctx.aliases:
        return _eval_post(_inline(node, ctx), out, ctx)
    raise BuildError(f"unknown column after aggregation: {node.name}")


def _post_expr(node, df: DataFrame, ctx: Context) -> Column:
    if node is None:
        return None
    if ctx.agg_slots or ctx.key_slots:
        return _eval_post(_inline(node, ctx), df, ctx)
    return _eval(_inline(node, ctx), ctx, df)


# --- projection (non-aggregate) ----------------------------------------------

def _apply_projection(df: DataFrame, items, ctx: Context) -> DataFrame:
    df, names = _apply_projection_keep(df, items, ctx)
    return df.select(*[_name_col(n).alias(_out_name(n)) for n in names])


def _apply_projection_keep(df: DataFrame, items,
                           ctx: Context) -> tuple[DataFrame, list[str]]:
    """Evaluate the select list but keep non-shadowed source columns in the
    frame (for ORDER BY / LIMIT BY on unselected columns); returns the
    frame plus the final output column names."""
    proj: list[Column] = []
    names: list[str] = []
    used: dict[str, int] = {}
    for item in items:
        if isinstance(item, Star):
            cols = ([c for c in df.columns if c.split(".")[0] == item.table]
                    if item.table else df.columns)
            if ctx.hidden_columns:
                # MATERIALIZED/ALIAS columns stay out of * expansion
                cols = [c for c in cols if c not in ctx.hidden_columns]
            if item.table and not cols:
                proj.append(F.col(f"{item.table}.*"))
                names.append(f"{item.table}.*")
                continue
            for c in cols:
                slot = _uniq_slot(c, used)
                proj.append(_name_col(c).alias(slot))
                names.append(slot)
            continue
        node = _inline(item, ctx)
        name = node.alias if isinstance(node, Alias) else _auto_name(node)
        if (isinstance(node, Identifier) and len(node.parts) > 1
                and node.name in df.columns):
            # a dotted NAME that is itself a column (flattened Nested)
            # keeps its full name — it is not a table-qualified ref
            name = node.name
        expr = node.expr if isinstance(node, Alias) else node
        if isinstance(expr, FuncCall) and expr.name == "untuple":
            # untuple(t) expands the tuple's elements into separate
            # output columns (tuple literals carry fields _1.._n; named
            # tuples keep their names). With an alias the outputs are
            # alias_field — CH writes `alias.field`, but dotted names
            # fight Spark's resolver (documented deviation).
            from pyspark.sql.types import StructType

            c = _eval(expr.args[0], ctx, df)
            dt = df.select(c.alias("__ut")).schema[0].dataType
            if not isinstance(dt, StructType):
                raise BuildError("untuple expects a Tuple argument")
            alias = node.alias if isinstance(node, Alias) else None
            arg_text = _auto_name(expr.args[0])
            for i, fld in enumerate(dt.fields, 1):
                if alias:
                    out_name = f"{alias}_{fld.name}"
                elif fld.name == f"_{i}":
                    # positional tuple fields: CH spells the output
                    # column tupleElement(<arg>, n)
                    out_name = f"tupleElement({arg_text}, {i})"
                else:
                    out_name = fld.name        # named tuple keeps names
                slot = _uniq_slot(out_name, used)
                proj.append(c.getField(fld.name).alias(slot))
                names.append(slot)
            continue
        slot = _uniq_slot(name, used)
        if _contains_window_fn(expr):
            # window expressions materialize in their OWN projection
            # stage: inlined next to a bare column of the same name,
            # Spark's lateral-column-alias rule can mis-bind the window's
            # references (LATERAL_COLUMN_ALIAS_IN_WINDOW on composite
            # lowerings like topK/sumMap OVER). Catalyst collapses the
            # extra Project.
            df = df.withColumn(slot, _eval(expr, ctx, df))
            proj.append(_name_col(slot))
        else:
            proj.append(_eval(expr, ctx, df).alias(slot))
        names.append(slot)
    # keep only UNAMBIGUOUS source columns: after a self-join both sides
    # carry the same names and a bare reference cannot resolve (ordering
    # by such a column would be ambiguous in CH too)
    from collections import Counter
    counts = Counter(df.columns)
    keep = [c for c in df.columns if c not in names and counts[c] == 1]
    return df.select(*proj, *[_name_col(c) for c in keep]), names


def _contains_window_fn(node) -> bool:
    """True if the expression tree holds an OVER-windowed call."""
    if isinstance(node, (Alias, Cast)):
        return _contains_window_fn(node.expr)
    if isinstance(node, FuncCall):
        if node.window is not None:
            return True
        return any(_contains_window_fn(a) for a in node.args
                   if not isinstance(a, Lambda))
    return False


def _name_col(n: str) -> Column:
    """Column reference by exact name: backtick-quoted (with backticks
    doubled) so names Spark's parser would treat as structure (a
    float-literal auto-name like `2.5`, a formatted-expression name like
    `round(2.5)`) resolve as one column, never field access."""
    return F.col("`" + n.replace("`", "``") + "`")


def _order_bare(df: DataFrame, it: OrderItem, ctx: Context) -> Column:
    """The ORDER BY item's expression without sort direction (the
    with-ties lowering needs it both as a sort key and in a filter)."""
    c = _post_expr(it.expr, df, ctx)
    if isinstance(it.expr, Identifier) and it.expr.name in df.columns:
        c = _name_col(it.expr.name)
    if it.collate:
        # CH COLLATE 'locale' → Spark 4 ICU collation on the sort key
        c = F.collate(c.cast("string"), it.collate.replace("-", "_"))
    return c


def _order_col(df: DataFrame, it: OrderItem, ctx: Context) -> Column:
    c = _order_bare(df, it, ctx)
    # CH default NULL placement is NULLS LAST for BOTH directions
    # (reference ExpressionElementParsers.cpp:2258 — nulls_direction
    # defaults to the sort direction, "same as direction for NULLS
    # LAST"); Spark's bare asc() is nulls-FIRST, so spell it out.
    if it.desc:
        return (c.desc_nulls_first() if it.nulls_first
                else c.desc_nulls_last())
    return (c.asc_nulls_first() if it.nulls_first
            else c.asc_nulls_last())


# --- expression evaluation ---------------------------------------------------

def _inline(node, ctx: Context):
    """CH alias visibility: substitute select-list/WITH aliases into the
    expression unless the name is a real column."""
    if isinstance(node, Identifier):
        nm = node.name
        if nm not in ctx.columns and nm in ctx.aliases:
            return _inline(ctx.aliases[nm], ctx)
        return node
    if isinstance(node, Alias):
        return Alias(_inline(node.expr, ctx), node.alias)
    if isinstance(node, FuncCall):
        return FuncCall(node.name, [_inline(a, ctx) for a in node.args],
                        node.params, node.distinct,
                        _inline(node.filter_where, ctx)
                        if node.filter_where else None, node.window,
                        node.nulls_modifier)
    if isinstance(node, Cast):
        return Cast(_inline(node.expr, ctx), node.type_name)
    if isinstance(node, ArrayLiteral):
        return ArrayLiteral([_inline(a, ctx) for a in node.items])
    if isinstance(node, TupleLiteral):
        return TupleLiteral([_inline(a, ctx) for a in node.items])
    return node


def _eval(node, ctx: Context, df: DataFrame | None,
          two_sided: tuple[DataFrame, DataFrame] | None = None) -> Column:
    if isinstance(node, Literal):
        v = node.value
        if isinstance(v, int) and not isinstance(v, bool) \
                and not -(1 << 63) <= v < (1 << 63):
            if v < (1 << 64):
                # UInt64 literal beyond Int64: LongType keeps the 64-bit
                # pattern (§1.2 policy: UInt64 → Long, modulo 2^64)
                return F.lit(v - (1 << 64))
            # Int128/256 class → Decimal(38,0) best-effort
            return F.lit(str(v)).cast("decimal(38,0)")
        return F.lit(v)
    if isinstance(node, Identifier):
        if node.name in ctx.lambda_params:
            return ctx.lambda_params[node.name]
        if len(node.parts) > 1 and (
                (df is not None and node.name in df.columns)
                or node.name in ctx.columns):
            # a column literally named with dots — the Nested(...)
            # flattening convention (n.a Array(T)); backticks stop
            # Spark parsing it as struct-field access
            return F.col(f"`{node.name}`")
        if len(node.parts) == 2 and two_sided is not None:
            return F.col(node.name)
        if (len(node.parts) == 2 and node.parts[0] in ctx.flat_qualifiers
                and df is not None and node.name not in df.columns):
            # qualified ref against a flattened (ASOF-joined) side: the
            # output is unqualified, so resolve through the recorded
            # rename map (right-side collisions got a _asof suffix),
            # then the bare column — or raise by name
            ren = ctx.flat_renames.get((node.parts[0], node.parts[1]))
            if ren is not None and ren in df.columns:
                return F.col(ren)
            bare = node.parts[1]
            if bare in df.columns:
                return F.col(bare)
            raise BuildError(
                f"{node.name}: column not present after ASOF JOIN "
                f"flattening (available: {sorted(df.columns)})")
        if (df is not None and node.name not in ctx.columns
                and node.name in ctx.aliases):
            return _eval(_inline(node, ctx), ctx, df)
        return F.col(node.name)
    if isinstance(node, QueryParameter):
        if node.name not in ctx.params:
            raise BuildError(f"unbound query parameter: {{{node.name}:"
                             f"{node.type_name}}}")
        return (F.lit(ctx.params[node.name])
                .cast(ch_type_to_spark(node.type_name)))
    if isinstance(node, Alias):
        return _eval(node.expr, ctx, df).alias(node.alias)
    if isinstance(node, Cast):
        src = _eval(node.expr, ctx, df)
        target = ch_type_to_spark(node.type_name)
        tt = node.type_name.strip().lower()
        if (tt.startswith(("int", "uint"))
                or tt.startswith("nullable(int")
                or tt.startswith("nullable(uint")):
            pairs = _declared_enum(node.expr, ctx)
            if pairs:
                # CAST(enum, IntN): the declared numeric value, not a
                # string parse of the name
                return _enum_to_number(src, pairs).cast(target)
        if target.lstrip().startswith(("array", "map", "struct")):
            # CAST('[1,2,3]' AS Array(Int32)) parses the CH literal
            # form when the source is a string. Single-quoted string
            # elements are normalized to JSON double quotes first —
            # exact for elements without embedded quotes (documented
            # partial fidelity; CH strings are parsed with full
            # escape handling).
            sdt = _probe_dtype(node.expr, src, ctx, df)
            if sdt is not None and sdt.simpleString() == "string":
                norm = F.regexp_replace(src, r"(?<!')'(?!')", '"')
                norm = F.regexp_replace(norm, r"''", "'")
                return F.from_json(norm, target)
        return src.cast(target)
    if isinstance(node, ArrayLiteral):
        return F.array(*[_eval(a, ctx, df) for a in node.items])
    if isinstance(node, TupleLiteral):
        # field names _1.._n match the CH Tuple → struct type mapping, so
        # tupleElement / ``t.1`` access works on literals and columns alike
        return F.struct(*[_eval(a, ctx, df).alias(f"_{i+1}")
                          for i, a in enumerate(node.items)])
    if isinstance(node, IntervalExpr):
        v = node.value
        if isinstance(v, Literal):
            return F.expr(f"interval {v.value} {node.unit.lower()}")
        # INTERVAL <expr> DAY with a dynamic count: one-unit interval
        # scaled by the (int-cast) count column
        return F.expr(f"interval 1 {node.unit.lower()}") \
            * _eval(v, ctx, df).cast("int")
    if isinstance(node, Subquery):
        # scalar subquery: computed once, injected as a literal; a
        # multi-column result is a TUPLE value (CH scalar contract)
        sub = _build_query(node.query, ctx)
        if len(sub.columns) != 1:
            names = [f"_{i + 1}" for i in range(len(sub.columns))]
            sub = (sub.toDF(*names)
                   .select(F.struct(*names).alias("__sc_tup")))
        rows = sub.limit(2).collect()
        if len(rows) != 1:
            raise BuildError("scalar subquery must return 1 row × 1 column")
        return F.lit(rows[0][0])
    if isinstance(node, FuncCall):
        if node.name == "__subqueryReduce":
            return _call_fn(node, [], ctx, df)
        if (node.name in ("in", "notIn", "globalIn", "globalNotIn")
                and len(node.args) == 2 and isinstance(node.args[1], Subquery)):
            # the Subquery rhs must not scalar-evaluate (it is a value set)
            return _call_fn(node, [_eval(node.args[0], ctx, df), None],
                            ctx, df)
        cols = [_eval(a, ctx, df) if not isinstance(a, Lambda) else a
                for a in node.args]
        return _call_fn(node, cols, ctx, df)
    if isinstance(node, Star):
        return F.count(F.lit(1))
    raise BuildError(f"cannot evaluate node: {type(node).__name__}")


# plain conversions that THROW on unparseable strings in CH (the
# OrNull/OrZero spellings are the lenient ones)
_STRICT_PARSE_FNS = frozenset({
    "toInt8", "toInt16", "toInt32", "toInt64",
    "toUInt8", "toUInt16", "toUInt32", "toUInt64",
    "toFloat32", "toFloat64", "toDate", "toDateTime",
})

# element-wise tuple arithmetic: name -> pairwise op (None = special)
_TUPLE_ARITH_2 = {
    "tuplePlus": lambda a, b: a + b,
    "vectorSum": lambda a, b: a + b,
    "tupleMinus": lambda a, b: a - b,
    "vectorDifference": lambda a, b: a - b,
    "tupleMultiply": lambda a, b: a * b,
    "tupleDivide": lambda a, b: a / b,
    "tupleIntDiv": lambda a, b: REGISTRY["intDiv"](a, b),
    "tupleModulo": lambda a, b: REGISTRY["modulo"](a, b),
    "tupleHammingDistance": None,
}

_POLYMORPHIC = {"length": ("arrayLength", "length"),
                "empty": (None, "empty"),
                "notEmpty": (None, "notEmpty"),
                "reverse": ("arrayReverse", "reverse")}


# CH predicates return UInt8, freely usable as numbers
# (``has(a,1) + has(a,2)``, ``sum(x > 5)``); Spark returns Boolean and
# rejects bool arithmetic. Operands produced by these functions coerce
# to tinyint in numeric context (the reference declares comparison /
# logical results as UInt8 — src/Functions/FunctionsComparison.h,
# src/Functions/FunctionsLogical.h).
_BOOL_RESULT_FNS = frozenset({
    "equals", "notEquals", "less", "greater", "lessOrEquals",
    "greaterOrEquals", "and", "or", "not", "xor", "like", "notLike",
    "ilike", "notILike", "match", "has", "hasAll", "hasAny", "hasSubstr",
    "hasToken", "hasTokenCaseInsensitive", "startsWith", "endsWith",
    "isNull", "isNotNull", "empty", "notEmpty", "isNaN", "isFinite",
    "isInfinite", "in", "notIn", "globalIn", "globalNotIn",
    "arrayExists", "arrayAll", "isIPv4String", "isIPv6String",
    "isValidUTF8", "isValidJSON", "isZeroOrNull", "isNotDistinctFrom",
    "isIPAddressInRange", "isConstant", "exists",
})

# numeric-context functions where a boolish operand coerces to tinyint
_NUM_CONTEXT_FNS = frozenset({
    "plus", "minus", "multiply", "divide", "intDiv", "intDivOrZero",
    "modulo", "moduloOrZero", "negate", "abs", "gcd", "lcm",
    "bitAnd", "bitOr", "bitXor", "bitNot", "bitShiftLeft",
    "bitShiftRight", "bitCount", "least", "greatest",
})


def _is_boolish(n, df: DataFrame | None = None) -> bool:
    """Expression produces a Spark Boolean that CH would type UInt8."""
    if isinstance(n, Literal):
        return isinstance(n.value, bool)
    if isinstance(n, Alias):
        return _is_boolish(n.expr, df)
    if isinstance(n, FuncCall):
        from ..functions.registry import CANONICAL
        return CANONICAL.get(n.name, n.name) in _BOOL_RESULT_FNS
    if isinstance(n, Identifier) and df is not None:
        from pyspark.sql.types import BooleanType
        try:
            return isinstance(df.schema[n.parts[-1]].dataType, BooleanType)
        except Exception:
            return False
    return False


# map-literal lookups stay in codegen up to this many entries; larger
# dictionaries switch to an Arrow-batched pandas_udf closure (the dict
# ships to workers once per task — the broadcast-hash-lookup shape)
_DICT_MAP_LITERAL_MAX = 2000

# dictGetString/UInt32/... typed-variant suffixes → CH result type
_DICT_TYPED_SUFFIXES = (
    "String", "UInt8", "UInt16", "UInt32", "UInt64", "Int8", "Int16",
    "Int32", "Int64", "Float32", "Float64", "Date", "DateTime", "UUID",
)


def _dict_lookup(d: dict, key: Column, out_spark_t: str,
                 key_cast: str) -> Column:
    """Point lookup of ``key`` in python dict ``d``.

    Small dicts inline as a create_map literal (pure JVM, codegen);
    large ones use a vectorized pandas Series.map over the closure dict —
    never a row-at-a-time Python UDF. Missing keys → NULL (callers wrap
    with the CH default)."""
    key = key.cast(key_cast)
    if not d:
        return F.lit(None).cast(out_spark_t)
    if len(d) <= _DICT_MAP_LITERAL_MAX:
        pairs: list[Column] = []
        for k, v in d.items():
            pairs.append(F.lit(k).cast(key_cast))
            pairs.append(F.lit(v).cast(out_spark_t))
        return F.element_at(F.create_map(*pairs), key)
    import pandas as pd

    def look(s):
        return s.map(d)

    look.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(look, out_spark_t)(key)


def _dict_fn(name: str, node: FuncCall, cols: list, ctx: Context) -> Column:
    """dictGet / dictGet<Type> / dictGetOrDefault / dictGetOrNull /
    dictHas over CREATE DICTIONARY lookups (public ClickHouse external-
    dictionary functions; dictionary DDL is commented out of the
    reference — ``ParserCreateQuery.cpp:2282-2296``)."""
    if not (node.args and isinstance(node.args[0], Literal)):
        raise BuildError(f"{name} requires a literal dictionary name")
    dname = node.args[0].value
    prov = ctx.dictionaries.get(dname)
    if prov is None:
        raise BuildError(f"unknown dictionary: {dname}")
    numeric_key = not prov.key_type.lower().startswith(
        ("string", "uuid", "fixedstring"))
    key_cast = "bigint" if numeric_key else "string"
    maps = prov.maps()
    if name == "dictHas":
        has = {k: 1 for k in (next(iter(maps.values())) if maps else {})}
        got = _dict_lookup(has, cols[1], "int", key_cast)
        return F.coalesce(got, F.lit(0))
    if name in ("dictGetHierarchy", "dictIsIn", "dictGetChildren",
                "dictGetDescendants"):
        # hierarchy walks over the HIERARCHICAL-flagged attribute;
        # chains precompute driver-side (dictionaries are RAM-bounded
        # by contract — same bound as every lookup above)
        if prov.hier_attr is None:
            raise BuildError(
                f"dictionary {dname} has no HIERARCHICAL attribute")
        parent = maps[prov.hier_attr]
        chains: dict = {}
        for k in parent:
            chain, cur, seen = [], k, set()
            while cur in parent and cur not in seen and cur not in (0,
                                                                    None):
                chain.append(cur)
                seen.add(cur)
                cur = parent[cur]
            chains[k] = chain
        if name == "dictGetHierarchy":
            return F.coalesce(
                _dict_lookup(chains, cols[1], "array<bigint>", key_cast),
                F.array().cast("array<bigint>"))
        if name == "dictIsIn":
            got = _dict_lookup(chains, cols[1], "array<bigint>", key_cast)
            return F.coalesce(
                F.array_contains(got, cols[2].cast("bigint")).cast("int"),
                F.lit(0))
        children: dict = {}
        for k, p in parent.items():
            children.setdefault(p, []).append(k)
        children = {p: sorted(c) for p, c in children.items()}
        if name == "dictGetDescendants":
            # dictGetDescendants(dict, key[, level]): level=0/omitted =
            # ALL transitive descendants; level=N = exactly that depth
            level = (node.args[2].value
                     if len(node.args) > 2
                     and isinstance(node.args[2], Literal) else 0)
            desc: dict = {}
            for k in set(parent) | set(children):
                out: list = []
                frontier, depth = [k], 0
                while frontier and (level == 0 or depth < level):
                    frontier = [c for f in frontier
                                for c in children.get(f, [])]
                    depth += 1
                    if level == 0:
                        out.extend(frontier)
                    elif depth == level:
                        out = frontier
                desc[k] = sorted(out)
            return F.coalesce(
                _dict_lookup(desc, cols[1], "array<bigint>", key_cast),
                F.array().cast("array<bigint>"))
        return F.coalesce(
            _dict_lookup(children, cols[1], "array<bigint>", key_cast),
            F.array().cast("array<bigint>"))
    # dictGet family: (dict, attr, key [, default])
    suffix = name[len("dictGet"):]
    or_default = suffix.endswith("OrDefault")
    if or_default:
        suffix = suffix[:-len("OrDefault")]
    or_null = suffix == "OrNull"
    if or_null:
        suffix = ""
    if suffix and suffix not in _DICT_TYPED_SUFFIXES:
        raise BuildError(f"unsupported dictionary function: {name}")
    if not isinstance(node.args[1], Literal):
        raise BuildError(f"{name} requires a literal attribute name")
    attr = node.args[1].value
    if attr not in maps:
        raise BuildError(f"dictionary {dname} has no attribute: {attr}")
    ch_t = suffix or prov.attr_ch_type(attr)
    out_t = ch_type_to_spark(ch_t)
    got = _dict_lookup(maps[attr], cols[2], out_t, key_cast)
    if or_null:
        return got
    if or_default:
        return F.coalesce(got, cols[3].cast(out_t))
    dflt = prov.attr_default(attr)
    return F.coalesce(got, F.lit(dflt).cast(out_t))


def _call_fn(node: FuncCall, cols: list, ctx: Context,
             df: DataFrame | None) -> Column:
    from ..functions.registry import CANONICAL

    name = CANONICAL.get(node.name, node.name)
    if name in ("getSetting", "getSettingOrDefault"):  # + @@k sugar
        if not (node.args and isinstance(node.args[0], Literal)):
            raise BuildError("getSetting requires a literal name")
        key = node.args[0].value
        if key not in ctx.settings:
            # fall back to the engine's honored defaults, then the full
            # reference namespace (CH getSetting returns the DEFAULT of
            # any known name); only unknown names raise
            from ..ddl import _SETTING_DEFAULTS
            from ..settings_namespace import REFERENCE_DEFAULTS
            if key in _SETTING_DEFAULTS:
                return F.lit(_SETTING_DEFAULTS[key])
            if key in REFERENCE_DEFAULTS:
                v = REFERENCE_DEFAULTS[key]
                return F.lit(int(v) if str(v).lstrip("-").isdigit() else v)
            if name == "getSettingOrDefault" and len(node.args) > 1:
                return cols[1]
            # CH raises UNKNOWN_SETTING rather than returning NULL
            raise BuildError(f"unknown setting: {key} (UNKNOWN_SETTING; "
                             f"use getSettingOrDefault)")
        return F.lit(ctx.settings[key])
    if name in ("timezone", "timeZone", "serverTimezone") and not node.args:
        return F.lit(ctx.spark.conf.get("spark.sql.session.timeZone",
                                        "UTC"))
    if name in ("dictHas", "dictIsIn") or name.startswith("dictGet"):
        return _dict_fn(name, node, cols, ctx)
    # window functions
    if node.window is not None:
        return _window_call(node, cols, ctx, df)
    # quantified-comparison marker: reduce the subquery's first column
    # with min/max and inject the scalar (ANY/ALL rewrite §2.3)
    if name == "__subqueryReduce":
        sub = _build_query(node.args[0].query, ctx)
        fn = node.args[1].value
        first = sub.columns[0]
        row = sub.agg(F.min(first) if fn == "min" else F.max(first)).collect()
        return F.lit(row[0][0])
    if name == "isNullable" and len(cols) == 1:
        # type introspection: 1 when the argument's type is Nullable.
        # toNullable() is a Spark no-op (literals stay non-nullable),
        # so resolve the declared wrapper syntactically first.
        a0 = node.args[0]
        if isinstance(a0, FuncCall) and a0.name in ("toNullable",
                                                    "nullIf"):
            return F.lit(1).cast("tinyint")
        if isinstance(a0, Literal):
            return F.lit(1 if a0.value is None else 0).cast("tinyint")
        if df is not None and not _refs_lambda_param(a0, ctx):
            try:
                return F.lit(
                    1 if df.select(cols[0]).schema[0].nullable else 0) \
                    .cast("tinyint")
            except Exception:
                pass
        return F.lit(0).cast("tinyint")
    if (name.startswith("to") and name[2:] in CH_NUMERIC
            and len(node.args) == 1):
        _ep = _declared_enum(node.args[0], ctx)
        if _ep:
            # toInt8(enum_col) etc.: the declared numeric value, never a
            # string parse of the name
            return _enum_to_number(cols[0], _ep).cast(
                ch_type_to_spark(name[2:]))
    if (name in _STRICT_PARSE_FNS and len(node.args) == 1
            and df is not None
            and not _refs_lambda_param(node.args[0], ctx)):
        # CH's plain conversions THROW on an unparseable string —
        # only the OrNull/OrZero spellings degrade (ref
        # src/Functions/FunctionsConversion.h). Spark's non-ANSI cast
        # nulls silently; guard string inputs with raise_error.
        try:
            dt = df.select(cols[0]).schema[0].dataType.simpleString()
        except Exception:
            dt = None
        if dt == "string":
            parsed = REGISTRY[name](cols[0])
            return F.when(
                cols[0].isNotNull() & parsed.isNull(),
                F.raise_error(F.lit(
                    f"Cannot parse {name[2:]} from string "
                    f"(use {name}OrNull / {name}OrZero)"))
            ).otherwise(parsed)
    if (name == "neighbor" and df is not None and len(cols) == 2
            and isinstance(node.args[1], Literal)):
        # out-of-range rows get the TYPE DEFAULT, not NULL, when no
        # explicit default is given (CH other-functions#neighbor)
        from ..operators.joins import _type_default
        if node.args[1].value is None:
            raise BuildError("neighbor: the offset must be a constant "
                             "integer, got NULL")
        shifted = REGISTRY["neighbor"](cols[0], node.args[1].value)
        try:
            dt = df.select(cols[0]).schema[0].dataType
            return F.coalesce(shifted, _type_default(dt))
        except Exception:
            return shifted
    if name in ("arrayShiftLeft", "arrayShiftRight",
                "arrayElement") and df is not None:
        out = _array_default_fns(name, node, cols, df, ctx)
        if out is not None:
            return out
    if name == "toJSONString" and len(node.args) == 1 and df is not None:
        # complex types serialize via to_json; scalars per JSON rules
        # (strings quoted+escaped, numbers/bools bare)
        dt_obj = _probe_dtype(node.args[0], cols[0], ctx, df)
        if dt_obj is None:
            raise BuildError(
                "toJSONString: argument type unresolvable in lambda "
                "position — bind the value to a lambda parameter first")
        dts = dt_obj.simpleString()
        # a NULL value of any scalar type serializes as bare null
        if dts.startswith(("array", "map", "struct")):
            return F.to_json(cols[0])
        if dts == "string":
            esc = F.regexp_replace(
                F.regexp_replace(cols[0], r"\\", r"\\\\"),
                '"', '\\\\"')
            return F.coalesce(F.concat(F.lit('"'), esc, F.lit('"')),
                              F.lit("null"))
        if dts == "boolean":
            return F.when(cols[0], F.lit("true")) \
                    .when(~cols[0], F.lit("false")).otherwise(F.lit("null"))
        return F.coalesce(cols[0].cast("string"), F.lit("null"))
    if name in ("date_trunc", "dateTrunc") and len(cols) == 2 \
            and df is not None and isinstance(node.args[0], Literal):
        # CH returns Date (not DateTime) for Date input with unit >= day
        # (same contract as toStartOfMonth/Quarter/Year, which already
        # cast); DateTime input keeps DateTime
        unit = str(node.args[0].value).lower()
        out = F.date_trunc(unit, cols[1])
        dt_obj = _probe_dtype(node.args[1], cols[1], ctx, df)
        if unit in ("day", "week", "month", "quarter", "year") and \
                dt_obj is not None and \
                dt_obj.simpleString() == "date":
            out = out.cast("date")
        return out
    if name == "defaultValueOfArgumentType" and len(node.args) == 1 \
            and df is not None:
        dt_obj = _probe_dtype(node.args[0], cols[0], ctx, df)
        if dt_obj is None:
            raise BuildError(
                "defaultValueOfArgumentType: argument type unresolvable "
                "in lambda position — bind it to a lambda parameter")
        d = _empty_set_default("", dt_obj)
        return d if d is not None \
            else F.lit(None).cast(dt_obj.simpleString())
    if name == "hasColumnInTable":
        vals = [a.value for a in node.args if isinstance(a, Literal)]
        if len(vals) < 2:
            raise BuildError("hasColumnInTable needs literal "
                             "[db,] table, column arguments")
        *tparts, colname = vals
        tname = ".".join(tparts)
        tdf = ctx.tables.get(tname)
        return F.lit(bool(tdf is not None and colname in tdf.columns))
    if name == "abs" and len(node.args) == 1:
        # CH abs(IntN) returns UIntN — abs(toInt8(-128)) = 128, not the
        # two's-complement wrap. Widen sub-64-bit signed ints to long
        # before abs (Int64 min stays the §1.2 UInt64-as-long edge).
        cht = _infer_ch_type(node.args[0], ctx, df)
        info = CH_NUMERIC.get(cht) if cht else None
        if info and info[0] == "i" and info[1] <= 4:
            return F.abs(cols[0].cast("bigint"))
        return F.abs(cols[0])
    if name == "arrayJoin" and len(node.args) == 1:
        from pyspark.sql.types import MapType
        dtm = _probe_dtype(node.args[0], cols[0], ctx, df)
        if isinstance(dtm, MapType):
            # CH: arrayJoin over a Map iterates its (key, value) tuples
            return F.explode(F.map_entries(cols[0]))
    if name == "tupleConcat" and node.args and df is not None:
        from pyspark.sql.types import StructType
        parts = []
        for a, c in zip(node.args, cols):
            dt = _probe_dtype(a, c, ctx, df)
            if not isinstance(dt, StructType):
                raise BuildError("tupleConcat: arguments must be Tuples")
            parts.extend(c[f.name] for f in dt.fields)
        return F.struct(*[pc.alias(f"_{i + 1}")
                          for i, pc in enumerate(parts)])
    if ((name == "arraySum" and len(node.args) == 1)
            or (name == "arrayReduce" and len(node.args) == 2
                and isinstance(node.args[0], Literal)
                and str(node.args[0].value).strip().lower() == "sum")) \
            and df is not None:
        # CH arraySum / arrayReduce('sum') result type follows the
        # element type (Int64 for ints, Decimal stays Decimal) — probe
        # the element type and use the typed fold
        from pyspark.sql.types import ArrayType
        from ..functions.registry import typed_array_sum
        arr_node = node.args[-1]
        arr_col = cols[-1]
        dt = _probe_dtype(arr_node, arr_col, ctx, df)
        if isinstance(dt, ArrayType):
            return typed_array_sum(arr_col,
                                   dt.elementType.simpleString())
    if name in ("tupleNames", "tupleToNameValuePairs") \
            and len(node.args) == 1 and df is not None:
        # tupleNames(t) -> Array(String) of element names ('1','2' for
        # unnamed tuples); tupleToNameValuePairs(t) -> Array(Tuple(name,
        # value)) — same-type elements required, like CH
        from pyspark.sql.types import StructType
        dt = _probe_dtype(node.args[0], cols[0], ctx, df)
        if not isinstance(dt, StructType):
            raise BuildError(f"{name}: argument must be a Tuple")

        def disp(n: str) -> str:
            return n[1:] if n.startswith("_") and n[1:].isdigit() else n

        if name == "tupleNames":
            return F.array(*[F.lit(disp(f.name)) for f in dt.fields])
        kinds = {f.dataType.simpleString() for f in dt.fields}
        if len(kinds) > 1:
            raise BuildError(
                "tupleToNameValuePairs: tuple elements must share one "
                f"type, got {sorted(kinds)}")
        return F.array(*[
            F.struct(F.lit(disp(f.name)).alias("_1"),
                     cols[0][f.name].alias("_2"))
            for f in dt.fields])
    if name == "byteSize" and len(node.args) == 1:
        # uncompressed in-memory size: fixed-width types report the
        # DECLARED width (UInt32 -> 4, Float64 -> 8, Date -> 2,
        # DateTime -> 4); String is length + 9 (8-byte size prefix +
        # terminator, per the CH docs example)
        cht = _infer_ch_type(node.args[0], ctx, df)
        info = CH_NUMERIC.get(cht) if cht else None
        if info is not None:
            return F.lit(info[1]).cast("long")
        dtp = _probe_dtype(node.args[0], cols[0], ctx, df)
        if dtp is not None:
            w = {"tinyint": 1, "smallint": 2, "int": 4, "bigint": 8,
                 "float": 4, "double": 8, "boolean": 1, "date": 2,
                 "timestamp": 4, "timestamp_ntz": 4}.get(
                     dtp.simpleString())
            if w is not None:
                return F.lit(w).cast("long")
            if dtp.simpleString() == "string":
                return (F.octet_length(cols[0]) + 9).cast("long")
        return F.octet_length(cols[0].cast("string")).cast("long")
    if name in ("hex", "bin") and len(node.args) == 1:
        # CH pads to the DECLARED integer type's byte width — hex(1) =
        # '01' (UInt8 literal), hex(256) = '0100' (UInt16),
        # hex(toUInt32(1)) = '00000001'; negative values show the
        # sign-extended pattern of that width (hex(toInt8(-1)) = 'FF').
        # String arguments keep the byte-dump kernel.
        cht = _infer_ch_type(node.args[0], ctx, df)
        info = CH_NUMERIC.get(cht) if cht else None
        width = info[1] if info and info[0] in ("u", "i") else None
        if width is None:
            dtp = _probe_dtype(node.args[0], cols[0], ctx, df)
            if dtp is not None:
                width = {"tinyint": 1, "smallint": 2, "int": 4,
                         "bigint": 8}.get(dtp.simpleString())
                if name == "bin" and dtp.simpleString() == "string":
                    # bin(String) is the byte dump ('a' → '01100001');
                    # F.bin is numeric-only, so chunk the hex dump into
                    # per-byte 8-bit groups
                    hx = F.hex(cols[0])
                    return F.array_join(F.transform(
                        F.sequence(F.lit(1),
                                   (F.length(hx) / 2).cast("int")),
                        lambda i: F.lpad(
                            F.conv(F.substring(hx, (i - 1) * 2 + 1, 2),
                                   16, 2), 8, "0")), "")
        if width is not None:
            base = F.hex(cols[0]) if name == "hex" else F.bin(cols[0])
            n = width * (2 if name == "hex" else 8)
            return F.when(F.length(base) >= n,
                          F.substring(base, -n, n)) \
                    .otherwise(F.lpad(base, n, "0"))
    if name in ("formatRow", "formatRowNoNewline") and len(node.args) >= 2:
        # per-row text-format rendering (CSV/TSV/JSONEachRow/Values):
        # Arrow-batched over the argument columns, reusing the same
        # cell renderers as the INTO OUTFILE/FORMAT writers
        if not isinstance(node.args[0], Literal):
            raise BuildError("formatRow needs a literal format name")
        fmt = str(node.args[0].value)
        vals = cols[1:]
        names = [_auto_name(a) for a in node.args[1:]]
        simples = []
        for a, c in zip(node.args[1:], vals):
            dtp = _probe_dtype(a, c, ctx, df)
            simples.append(dtp.simpleString() if dtp is not None
                           else "string")
        newline = name == "formatRow"
        from ..sources.formats import render_row
        import pandas as pd

        def frow(sdf):
            # object dtype keeps NULLs as None (numeric pandas columns
            # would coerce them to NaN and render 'nan' instead of \N)
            sdf = sdf.astype(object).where(pd.notnull(sdf), None)
            return pd.Series([
                render_row(fmt,
                           [v.tolist() if hasattr(v, "tolist") else v
                            for v in row],
                           simples, names, newline)
                for row in sdf.itertuples(index=False, name=None)])

        frow.__annotations__ = {"sdf": pd.DataFrame, "return": pd.Series}
        return F.pandas_udf(frow, "string")(F.struct(
            *[v.alias(f"c{i}") for i, v in enumerate(vals)]))
    if name == "hasColumnInTable" and len(node.args) >= 3:
        # (['host',] db, table, column) — literal args, catalog lookup
        vals = [a.value for a in node.args if isinstance(a, Literal)]
        if len(vals) != len(node.args):
            raise BuildError("hasColumnInTable requires literal args")
        if len(vals) > 3:
            vals = vals[-3:]
        dbn, tbl, coln = vals
        t = ctx.tables.get(f"{dbn}.{tbl}") or ctx.tables.get(tbl)
        if t is None:
            raise BuildError(f"unknown table: {dbn}.{tbl}")
        return F.lit(1 if coln in t.columns else 0).cast("tinyint")
    if name in ("arrayFlatten", "flatten") and len(node.args) == 1:
        # CH flattens ALL nesting levels (docs array-functions#flatten:
        # [[[1]], [[2], [3]]] → [1, 2, 3]); F.flatten peels one level,
        # so apply it (depth-1) times from the probed dtype
        from pyspark.sql.types import ArrayType
        dt = _probe_dtype(node.args[0], cols[0], ctx, df)
        out = cols[0]
        while isinstance(dt, ArrayType) \
                and isinstance(dt.elementType, ArrayType):
            out = F.flatten(out)
            dt = dt.elementType
        return out
    if name in _TUPLE_ARITH_2 and len(node.args) == 2:
        # element-wise tuple arithmetic (CH tuple-functions): field
        # names come from positional pairing, output fields are _N
        from pyspark.sql.types import StructType
        da = _probe_dtype(node.args[0], cols[0], ctx, df)
        db = _probe_dtype(node.args[1], cols[1], ctx, df)
        if isinstance(da, StructType) and isinstance(db, StructType):
            if len(da.fields) != len(db.fields):
                raise BuildError(f"{name}: tuple sizes differ")
            op = _TUPLE_ARITH_2[name]
            fa = [cols[0][f.name] for f in da.fields]
            fb = [cols[1][f.name] for f in db.fields]
            if name == "tupleHammingDistance":
                out = F.lit(0)
                for a, b in zip(fa, fb):
                    out = out + (~a.eqNullSafe(b)).cast("int")
                return out
            return F.struct(*[op(a, b).alias(f"_{i + 1}")
                              for i, (a, b) in enumerate(zip(fa, fb))])
    if name in ("tupleNegate", "tupleMultiplyByNumber",
                "tupleDivideByNumber") and node.args:
        from pyspark.sql.types import StructType
        da = _probe_dtype(node.args[0], cols[0], ctx, df)
        if isinstance(da, StructType):
            fa = [cols[0][f.name] for f in da.fields]
            if name == "tupleNegate":
                vals = [-a for a in fa]
            elif name == "tupleMultiplyByNumber":
                vals = [a * cols[1] for a in fa]
            else:
                vals = [a / cols[1] for a in fa]
            return F.struct(*[v.alias(f"_{i + 1}")
                              for i, v in enumerate(vals)])
    if name == "tupleConcat" and len(node.args) >= 2:
        from pyspark.sql.types import StructType
        parts = []
        for arg_node, col in zip(node.args, cols):
            dt = _probe_dtype(arg_node, col, ctx, df)
            if not isinstance(dt, StructType):
                parts = None
                break
            parts.extend(col[f.name] for f in dt.fields)
        if parts is not None:
            return F.struct(*[p.alias(f"_{i + 1}")
                              for i, p in enumerate(parts)])
    if name in ("bitRotateLeft", "bitRotateRight") \
            and len(node.args) == 2:
        # rotation width = the DECLARED CH type's byte width (literal
        # typing gives UInt8 for small literals); untyped → 8 bytes
        cht = _infer_ch_type(node.args[0], ctx, df)
        info = CH_NUMERIC.get(cht) if cht else None
        width = info[1] if info and info[0] in ("u", "i") else 8
        n = node.args[1].value if isinstance(node.args[1], Literal) else None
        if n is None:
            raise BuildError(f"{name} shift count must be a literal")
        return REGISTRY[name](cols[0], n, width)
    if name == "byteSwap" and len(node.args) == 1:
        # width comes from the DECLARED CH type when inferable (DDL
        # column, to<Type> cast, literal typing) — CH swaps per argument
        # type, not per runtime value; untyped args fall back to
        # value-width inside the registry kernel
        cht = _infer_ch_type(node.args[0], ctx, df)
        info = CH_NUMERIC.get(cht) if cht else None
        width = info[1] if info and info[0] in ("u", "i") else None
        out = REGISTRY["byteSwap"](cols[0], width)
        if info and info[0] == "i" and width in (1, 2, 4):
            # signed types keep their width: byteSwap(Int16 -2) is the
            # 16-bit pattern 0xFFFE read back as Int16 (= -2), not 65534
            out = out.cast({1: "tinyint", 2: "smallint",
                            4: "int"}[width])
        return out
    if name in ("multiMatchAny", "multiMatchAnyIndex") \
            and len(node.args) == 2:
        # pattern set must be an array literal (CH compiles the set into
        # one automaton; here each pattern is one JVM rlike)
        pats = node.args[1]
        if not (isinstance(pats, ArrayLiteral)
                and all(isinstance(i, Literal) and isinstance(i.value, str)
                        for i in pats.items)):
            raise BuildError(f"{name} patterns must be string literals")
        plist = [i.value for i in pats.items]
        h = cols[0]
        if name == "multiMatchAny":
            out = F.lit(False)
            for p in plist:
                out = out | h.rlike(p)
            return out.cast("int")
        out = F.lit(0)
        for i in range(len(plist) - 1, -1, -1):   # first match wins
            out = F.when(h.rlike(plist[i]), F.lit(i + 1)).otherwise(out)
        return out.cast("long")
    if name == "emptyArrayToSingle" and len(node.args) == 1 \
            and df is not None:
        # empty → [type default] (CH IDataType::getDefault), else as-is
        from pyspark.sql.types import ArrayType
        dt = _probe_dtype(node.args[0], cols[0], ctx, df)
        if dt is None and _refs_lambda_param(node.args[0], ctx):
            raise BuildError(
                "emptyArrayToSingle: array type unresolvable in lambda "
                "position — bind it to a lambda parameter")
        if isinstance(dt, ArrayType):
            elem = dt.elementType
            d = _empty_set_default("", elem)
            if d is None:
                d = F.lit(None).cast(elem)
            return F.when(F.size(cols[0]) == 0,
                          F.array(d.cast(elem))).otherwise(cols[0])
    if name == "isConstant" and len(node.args) == 1:
        # constant ⇔ the argument references no column (CH evaluates
        # constness at analysis time; literals/functions-of-literals → 1)
        def _has_ident(n) -> bool:
            if isinstance(n, Identifier):
                return True
            for v in getattr(n, "__dict__", {}).values():
                if isinstance(n, FuncCall) and v is getattr(n, "name", None):
                    continue
                if isinstance(v, list):
                    if any(_has_ident(i) for i in v):
                        return True
                elif hasattr(v, "__dict__") and _has_ident(v):
                    return True
            return False
        return F.lit(0 if _has_ident(node.args[0]) else 1).cast("smallint")
    if name == "toString" and len(node.args) == 1:
        # CH's float formatter prints integral Float32/64 WITHOUT the
        # trailing .0 (toString(1.0) = '1'); Java's Double.toString
        # keeps it. Strip for plain-notation values — scientific-
        # notation magnitudes (|x| >= 1e7) keep Java's form (documented
        # partial fidelity; CH switches to shortest-repr there). In
        # lambda position the static schema probe can't run, so the
        # float check happens via typeof() (constant-folded per type).
        out = cols[0].cast("string")
        stripped = F.regexp_replace(out, r"^(-?\d+)\.0$", "$1")
        dt_obj = _probe_dtype(node.args[0], cols[0], ctx, df)
        dts = dt_obj.simpleString() if dt_obj is not None else None
        if dts is not None and dts.startswith(("array", "struct", "map")):
            # composite values render as CH literals ('[1,2]',
            # "(1,'a')", "{'k':1}"), not Spark's cast text
            return _ch_literal_render(cols[0], dt_obj)
        if dts is not None and dts.startswith("decimal"):
            # CH trims trailing decimal zeros by default
            # (output_format_decimal_trailing_zeros = false,
            # reference Core/Settings.h:609 + SerializationDecimal.cpp:50)
            return F.regexp_replace(
                F.regexp_replace(out, r"(\.\d*?)0+$", "$1"),
                r"\.$", "")
        if dts in ("timestamp", "timestamp_ntz"):
            # DateTime64(s) renders EXACTLY s fraction digits
            # ('00:00:00.500', not Spark cast's trimmed '.5') — the
            # declared scale survives through sub-second arithmetic
            sc = _dt64_scale_of(node.args[0])
            if sc:
                return F.date_format(
                    cols[0], f"yyyy-MM-dd HH:mm:ss.{'S' * sc}")
        if dts is not None:
            return stripped if dts in ("float", "double") else out
        return F.when(F.typeof(cols[0]).isin("float", "double"),
                      stripped).otherwise(out)
    if name == "round" and node.args:
        # CH round() is BANKER'S rounding for float types and
        # away-from-zero for integer/Decimal types (public docs:
        # round(2.5) = 2, round(toInt32(25), -1) = 30). Spark's round
        # is away-from-zero, bround is banker's — pick by inferred type;
        # unknown types behave as Float64 (the literal default).
        n = 0
        if len(node.args) > 1:
            a1 = node.args[1]
            n = a1.value if isinstance(a1, Literal) else 0
        cht = _infer_ch_type(node.args[0], ctx, df)
        info = CH_NUMERIC.get(cht) if cht else None
        away = (info is not None and info[0] in ("u", "i")) or (
            cht is not None and cht.startswith("Decimal"))
        if not away and cht is None:
            dt_obj = _probe_dtype(node.args[0], cols[0], ctx, df)
            if dt_obj is not None:
                dts = dt_obj.simpleString()
                away = dts.startswith("decimal") or dts in _INT_SPARK_TYPES
        return (F.round(cols[0], int(n)) if away
                else F.bround(cols[0], int(n)))
    if (name in ("arraySum", "arrayCumSum", "arrayCumSumNonNegative")
            and len(node.args) == 1):
        # CH NumberTraits: summing integer arrays yields Int64 /
        # Array(Int64); the kernels compute in double (exact below 2^53
        # — the documented sum policy)
        out = REGISTRY[name](cols[0])
        dt_obj = _probe_dtype(node.args[0], cols[0], ctx, df)
        if dt_obj is None:
            return out
        dts = dt_obj.simpleString()
        elem = dts[6:-1] if dts.startswith("array<") else ""
        if elem in _INT_SPARK_TYPES:
            return out.cast("bigint" if name == "arraySum"
                            else "array<bigint>")
        return out
    if name == "bitPositionsToArray" and len(node.args) == 1:
        # same width rule as byteSwap: positions come from the DECLARED
        # type's bit pattern (toInt8(-1) → [0..7], not 64 bits)
        cht = _infer_ch_type(node.args[0], ctx, df)
        info = CH_NUMERIC.get(cht) if cht else None
        width = info[1] if info and info[0] in ("u", "i") else None
        return REGISTRY["bitPositionsToArray"](cols[0], width)
    if name == "toColumnTypeName" and len(node.args) == 1:
        # internal column spelling ≙ the dialect type name here (the
        # engine has no separate in-memory column representation)
        name = "toTypeName"
    if name == "toTypeName" and len(node.args) == 1:
        # CH type introspection: literal typing first (FieldToDataType —
        # toTypeName(1) = 'UInt8', toTypeName(NULL) = 'Nullable(Nothing)',
        # array/tuple literals type their elements: [1,2] → Array(UInt8)),
        # then the resolved Spark dtype mapped back to its CH name
        arg = node.args[0]
        if isinstance(arg, FuncCall) and arg.name == "toNullable" \
                and len(arg.args) == 1:
            # toNullable wraps the INNER type (CH: Nullable(UInt8));
            # recurse on the unwrapped argument
            inner = _eval(FuncCall("toTypeName", [arg.args[0]]), ctx, df)
            return F.concat(F.lit("Nullable("), inner, F.lit(")"))
        if isinstance(arg, FuncCall) and arg.name == "toLowCardinality" \
                and len(arg.args) == 1:
            # the dictionary-encoded wrapper survives in the type name
            # (Spark has no LowCardinality column representation)
            inner = _eval(FuncCall("toTypeName", [arg.args[0]]), ctx, df)
            return F.concat(F.lit("LowCardinality("), inner, F.lit(")"))
        if isinstance(arg, FuncCall) and arg.name == "assumeNotNull" \
                and len(arg.args) == 1:
            # assumeNotNull strips Nullable — unwrap a direct
            # toNullable(...) argument to the innermost expression
            inner_arg = arg.args[0]
            if isinstance(inner_arg, FuncCall) \
                    and inner_arg.name == "toNullable":
                inner_arg = inner_arg.args[0]
            return _eval(FuncCall("toTypeName", [inner_arg]), ctx, df)
        if (isinstance(arg, FuncCall) and arg.name == "toDateTime64"
                and len(arg.args) >= 2 and isinstance(arg.args[1], Literal)):
            # the Spark timestamp carries no scale — keep the declared one
            return F.lit(f"DateTime64({arg.args[1].value})")
        if isinstance(arg, FuncCall) and arg.name == "now64":
            # now64([scale]) is DateTime64(scale), default scale 3
            p = (arg.args[0].value
                 if arg.args and isinstance(arg.args[0], Literal) else 3)
            return F.lit(f"DateTime64({p})")
        if (isinstance(arg, FuncCall) and arg.name.startswith("toInterval")
                and len(arg.name) > len("toInterval")):
            # Spark renders 'interval day to second'; CH names the unit
            return F.lit(f"Interval{arg.name[len('toInterval'):]}")
        if isinstance(arg, Cast):
            # types with no distinct Spark representation keep their
            # DECLARED name (CAST('{}', 'JSON') is a JSON column even
            # though it is carried as a string here)
            t = arg.type_name.strip()
            if t.upper() == "JSON" or t.lower().startswith("object("):
                return F.lit("JSON")
        t = _literal_render_type(arg) \
            or _infer_ch_type(node.args[0], ctx, df)
        if t is None:
            dt_obj = _probe_dtype(arg, cols[0], ctx, df)
            if dt_obj is not None:
                t = spark_type_to_ch(dt_obj.simpleString())
        return F.lit(t or "Dynamic")
    if name == "initializeAggregation" and len(node.args) >= 2 \
            and isinstance(node.args[0], Literal):
        # initializeAggregation('aggState', v...): the single-row state
        # (functions/other#initializeaggregation). Our value-carrier
        # states finalize to the value itself; sketch-free dispatch on
        # the base name, named error otherwise.
        agg = str(node.args[0].value).strip("'\"")
        base = agg[:-5] if agg.endswith("State") else agg
        vals = cols[1:]
        if base in ("sum", "min", "max", "any", "anyLast", "avg",
                    "median", "first", "last"):
            return vals[0]
        if base in ("count", "uniq", "uniqExact", "uniqHLL12",
                    "uniqCombined"):
            return F.lit(1).cast("long")
        if base in ("groupArray", "groupUniqArray"):
            return F.array(*vals)
        if base == "uniqExactState":
            return F.array(*vals)
        raise BuildError(
            f"initializeAggregation: unsupported aggregate {agg!r}")
    if name == "finalizeAggregation" and len(cols) == 1:
        # AggregateFunction state → finalized value (scalar, per row):
        # binary HLL sketch states estimate; uniqExact array states count
        # their distinct elements; SimpleAggregateFunction states already
        # ARE the value
        dt_obj = _probe_dtype(node.args[0], cols[0], ctx, df)
        dt = dt_obj.simpleString() if dt_obj is not None else ""
        if dt == "binary":
            return F.hll_sketch_estimate(cols[0])
        if dt.startswith("array"):
            return F.size(F.array_distinct(cols[0])).cast("long")
        return cols[0]
    # reinterpretAs(U)IntN over a NUMERIC argument keeps the bytes (the
    # CH contract: reinterpret, not parse) — a plain wrap-cast to the
    # target width; the registry's little-endian-bytes reading applies
    # to string arguments only.
    if (name.startswith(("reinterpretAsUInt", "reinterpretAsInt"))
            and len(cols) == 1 and name[-1].isdigit()):
        dt_obj = _probe_dtype(node.args[0], cols[0], ctx, df)
        dt = dt_obj.simpleString() if dt_obj is not None else ""
        if dt in ("tinyint", "smallint", "int", "bigint", "float",
                  "double", "boolean", "date", "timestamp"):
            bits = int(name.rsplit("t", 1)[-1])
            v = cols[0]
            if dt in ("float", "double", "date", "timestamp", "boolean"):
                v = v.cast("long")     # CH reinterprets the binary; the
                # integral reading is the documented deviation (§1.2)
            v = v.cast("long")
            if bits >= 64:
                return v
            # arithmetic wrap (an overflowing narrowing CAST would raise
            # under the driver's ANSI-on session)
            if name.startswith("reinterpretAsUInt"):
                return F.pmod(v, F.lit(1 << bits))
            half = 1 << (bits - 1)
            return F.pmod(v + half, F.lit(1 << bits)) - F.lit(half)
    # CH length/empty/reverse are polymorphic over strings AND arrays —
    # dispatch on the argument's resolved type (schema-only for frame
    # columns; HOF-bound dtype for lambda parameters).
    if name in _POLYMORPHIC and len(cols) == 1:
        dt_obj = _probe_dtype(node.args[0], cols[0], ctx, df)
        dt = dt_obj.simpleString() if dt_obj is not None else ""
        if dt.startswith(("array", "map")):
            arr_name, _ = _POLYMORPHIC[name]
            if arr_name:
                return REGISTRY[arr_name](cols[0])
            if name == "empty":
                return F.size(cols[0]) == 0
            if name == "notEmpty":
                return F.size(cols[0]) > 0
    # IN with literal tuple/array
    if name in ("in", "notIn", "globalIn", "globalNotIn"):
        target, rhs_node = node.args
        lhs = cols[0]
        if isinstance(rhs_node, (TupleLiteral, ArrayLiteral)):
            if (isinstance(node.args[0], TupleLiteral)
                    and all(isinstance(it, TupleLiteral)
                            for it in rhs_node.items)):
                # (a, b) IN ((1, 2), (3, 4)) → OR of per-row equality
                # conjunctions (pushdown-friendly, no struct literals)
                lhs_cols = [_eval(it, ctx, df)
                            for it in node.args[0].items]
                disj = F.lit(False)
                for row in rhs_node.items:
                    conj = F.lit(True)
                    for lc, lit_item in zip(lhs_cols, row.items):
                        conj = conj & (lc == _eval(lit_item, ctx, df))
                    disj = disj | conj
                col = disj
            else:
                # CH null processing (operators/in#null-processing,
                # transform_null_in=0): NULL elements match nothing
                vals = [a.value for a in rhs_node.items
                        if a.value is not None]
                col = lhs.isin(vals) if vals else F.lit(False)
        elif isinstance(rhs_node, Subquery):
            # last-resort path: IN-subquery inside a lambda body — the
            # only position the marker-join lowering cannot reach (a join
            # column cannot be referenced from a HOF lambda). Bounded
            # collect with a hard guard — never an unbounded driver
            # materialization. HAVING/WHERE/SELECT positions never get
            # here: they are lowered to joins in _lower_in_subqueries.
            sub = _build_query(rhs_node.query, ctx)
            cap = 100_000
            rows = sub.limit(cap + 1).collect()
            if len(rows) > cap:
                raise BuildError(
                    "IN-subquery in this position would materialize more "
                    f"than {cap} rows on the driver; rewrite as a WHERE "
                    "conjunct or join")
            col = lhs.isin([r[0] for r in rows if r[0] is not None])
        else:
            col = lhs.isin([cols[1]])
        # CH: the result of IN involving NULL is always 0 (UInt8), never
        # NULL — for BOTH IN and NOT IN (operators/in#null-processing,
        # transform_null_in=0). Negate BEFORE coalescing so a NULL lhs
        # yields 0 either way (coalesce-then-negate would make
        # `NULL NOT IN (…)` true).
        col = col.cast("boolean")
        if "not" in name.lower():
            col = ~col
        return F.coalesce(col, F.lit(False))
    if name in _DAY_WIDER_ADD_FNS and len(node.args) == 2 \
            and df is not None:
        # CH result-type rule: addDays/addMonths/… over a DATE stays
        # Date; over DateTime it keeps the time-of-day (the registry's
        # timestamp_add form)
        out = REGISTRY[name](cols[0], cols[1])
        dtp = _probe_dtype(node.args[0], cols[0], ctx, df)
        if dtp is not None and dtp.simpleString() == "date":
            return out.cast("date")
        return out
    if (name in ("addTupleOfIntervals", "subtractTupleOfIntervals")
            and len(node.args) == 2
            and isinstance(node.args[1], TupleLiteral)):
        # fold the tuple's intervals left-to-right through the plus/
        # minus interval lowering below
        op = "plus" if name == "addTupleOfIntervals" else "minus"
        out_node = node.args[0]
        for iv in node.args[1].items:
            if not isinstance(iv, IntervalExpr):
                raise BuildError(f"{name} expects a tuple of INTERVALs")
            out_node = FuncCall(op, [out_node, iv])
        return _eval(out_node, ctx, df)
    if name in ("plus", "minus") and len(node.args) == 2 and isinstance(
            node.args[1], IntervalExpr):
        iv = node.args[1]
        unit = iv.unit.lower()
        if isinstance(iv.value, Literal):
            expr = F.expr(f"interval {iv.value.value} {unit}")
        else:
            # INTERVAL <expr> DAY with a dynamic count: one-unit
            # interval scaled by the (int-cast) count column
            expr = F.expr(f"interval 1 {unit}") * _eval(
                iv.value, ctx, df).cast("int")
        res = cols[0] + expr if name == "plus" else cols[0] - expr
        if unit in ("day", "week", "month", "quarter", "year") \
                and df is not None:
            try:
                s0 = df.select(cols[0]).schema[0].dataType.simpleString()
                if s0 == "date":
                    return res.cast("date")
            except Exception:
                pass
        return res
    if (name in ("plus", "minus") and len(node.args) == 2
            and isinstance(node.args[1], FuncCall)
            and node.args[1].name.startswith("toInterval")
            and df is not None):
        # Date ± day-or-wider interval stays Date (CH: DateTime only for
        # sub-day units); Spark promotes date+interval to timestamp
        res = cols[0] + cols[1] if name == "plus" else cols[0] - cols[1]
        unit = node.args[1].name[len("toInterval"):].lower()
        if unit in ("day", "week", "month", "quarter", "year"):
            try:
                dt = df.select(cols[0]).schema[0].dataType.simpleString()
                if dt == "date":
                    return res.cast("date")
            except Exception:
                pass
        return res
    # boolean-as-UInt8: CH predicates are numbers; cast them before any
    # arithmetic/bit op so Spark's bool-rejecting operators accept them
    if name in _NUM_CONTEXT_FNS:
        cols = [c.cast("tinyint")
                if not isinstance(a, Lambda) and _is_boolish(a, df) else c
                for a, c in zip(node.args, cols)]
    # CH numeric promotion (NumberTraits): the result of int arithmetic is
    # one size class wider than the operands (Int8+Int8 = Int16,
    # UInt8+Int8 = Int16, Int32*Int32 = Int64), unlike Spark which keeps
    # the wider operand type and can overflow. Cast operands to the CH
    # result type up front so the op itself cannot overflow.
    if name in ("plus", "minus", "multiply", "intDiv",
                "modulo") and len(node.args) == 2:
        ta = _infer_ch_type(node.args[0], ctx, df)
        tb = _infer_ch_type(node.args[1], ctx, df)
        if ta is not None and tb is not None:
            rt = arithmetic_result_type(name, ta, tb)
            if rt is not None:
                spark_t = ch_type_to_spark(rt)
                if name in ("plus", "minus", "multiply"):
                    a, b = cols[0].cast(spark_t), cols[1].cast(spark_t)
                    return (a + b if name == "plus"
                            else a - b if name == "minus" else a * b)
                # intDiv / modulo: CH computes at operand width then
                # narrows the result type (ResultOfIntegerDivision /
                # ResultOfModulo)
                return REGISTRY[name](cols[0], cols[1]).cast(spark_t)
        if name in ("plus", "minus") and df is not None \
                and (ta is None or tb is None):
            # temporal arithmetic (the numeric inference above left a
            # side unresolved): Date ± N = Date shifted N days (Spark's
            # date_add rejects BIGINT counts), DateTime ± N = N seconds,
            # Date − Date = Int32 days, DateTime − DateTime = seconds
            def _tkind(i):
                dtp = _probe_dtype(node.args[i], cols[i], ctx, df)
                s = dtp.simpleString() if dtp is not None else ""
                return ("date" if s == "date"
                        else "ts" if s.startswith("timestamp") else s)
            k0 = _tkind(0) if ta is None else "num"
            if k0 in ("date", "ts"):
                k1 = _tkind(1) if tb is None else "num"
                if name == "minus" and k0 == k1 == "date":
                    return F.datediff(cols[0], cols[1]).cast("int")
                if name == "minus" and k0 == k1 == "ts":
                    return (F.unix_timestamp(cols[0])
                            - F.unix_timestamp(cols[1])).cast("int")
                if name == "minus" and {k0, k1} == {"date", "ts"}:
                    # mixed DateTime − Date: the Date converts to
                    # midnight DateTime, result Int32 seconds (CH
                    # getLeastSupertype for the pair)
                    return (F.unix_timestamp(cols[0].cast("timestamp"))
                            - F.unix_timestamp(cols[1].cast("timestamp"))
                            ).cast("int")
                if k1 == "num" or k1.endswith("int"):
                    n = cols[1].cast("int")
                    if k0 == "date":
                        return (F.date_add(cols[0], n) if name == "plus"
                                else F.date_sub(cols[0], n))
                    return F.timestamp_add(
                        "SECOND",
                        cols[1].cast("long") * (1 if name == "plus"
                                                else -1), cols[0])
            elif name == "plus" and ta is not None and tb is None \
                    and _tkind(1) == "date":
                # N + Date (commuted)
                return F.date_add(cols[1], cols[0].cast("int"))
    # getLeastSupertype for conditional branches: CH unifies if/multiIf
    # value types by bit-width maximization (signed ∪ unsigned of one
    # width → next wider signed), not Spark's coercion rules
    if name in ("if", "multiIf") and len(node.args) >= 3:
        if name == "if":
            val_idx = [1, 2]
        else:
            val_idx = list(range(1, len(node.args) - 1, 2)) + \
                [len(node.args) - 1]
        branch_ts = [_infer_ch_type(node.args[i], ctx, df) for i in val_idx]
        if all(t is not None for t in branch_ts):
            try:
                spark_t = ch_type_to_spark(least_supertype(branch_ts))
                cols = list(cols)
                for i in val_idx:
                    cols[i] = cols[i].cast(spark_t)
            except NoCommonTypeError:
                pass    # fall back to Spark coercion
    # HOF with lambda args: bind lambda params
    if any(isinstance(a, Lambda) for a in node.args):
        return _hof_call(node, ctx, df)
    if name in _TUPLE_ARITH and df is not None:
        # element-wise tuple arithmetic needs the struct's field list,
        # which only the analyzed schema knows — one plan analysis at
        # build time, zero runtime cost
        return _tuple_arith(name, node, cols, ctx, df)
    if name in _VEC_TUPLE_FNS and df is not None:
        # the distance/norm family accepts Tuples as well as Arrays in
        # CH — adapt struct args to arrays once at build time
        cols = [_struct_as_array(a, c, ctx, df)
                for a, c in zip(node.args, cols)]
        try:
            return REGISTRY[name](*cols)
        except TypeError as e:
            raise BuildError(
                f"wrong number of arguments for function {name}: "
                f"{e}") from None
    if (name == "tupleElement" and df is not None
            and len(node.args) == 2 and isinstance(node.args[1], Literal)
            and isinstance(node.args[1].value, int)):
        # t.N works positionally on ANY tuple — including named ones
        # like the statistical-test results (t_statistic, p_value) —
        # per the CH Tuple contract, not just our _N convention
        from pyspark.sql.types import StructType
        dt = _probe_dtype(node.args[0], cols[0], ctx, df)
        if dt is None and _refs_lambda_param(node.args[0], ctx):
            # composite lambda expression whose struct type the HOF
            # binding can't see: fall back to the `_N` literal-tuple
            # field convention (every tuple this engine constructs)
            return cols[0].getField(f"_{node.args[1].value}")
        if not isinstance(dt, StructType):
            got = dt.simpleString() if dt is not None \
                else "an unresolvable expression"
            raise BuildError(
                f"tupleElement: positional .{node.args[1].value} access "
                f"needs a Tuple, got {got}")
        idx = node.args[1].value
        if not 1 <= idx <= len(dt.fields):
            raise BuildError(f"tupleElement: index {idx} out of "
                             f"range for {len(dt.fields)}-tuple")
        return cols[0][dt.fields[idx - 1].name]
    if name in ("trimBothChars", "trimLeftChars", "trimRightChars"):
        target, chars = cols
        cl = node.args[1].value if isinstance(node.args[1], Literal) else ""
        import re as _re
        pat = _re.escape(cl)
        if name != "trimRightChars":
            target = F.regexp_replace(target, f"^[{pat}]*", "")
        if name != "trimLeftChars":
            target = F.regexp_replace(target, f"[{pat}]*$", "")
        return target
    if (name in ("splitByChar", "splitByString", "splitByRegexp")
            and len(node.args) == 3
            and isinstance(node.args[0], Literal)
            and isinstance(node.args[2], Literal)):
        # splitby_max_substrings_includes_remaining_string (default 0 at
        # the emulated era): remainder discarded unless the setting is on
        keep = str(ctx.settings.get(
            "splitby_max_substrings_includes_remaining_string",
            0)).strip("'\"").lower() in ("1", "true")
        return REGISTRY[name](node.args[0].value, cols[1],
                              node.args[2].value, keep)
    if (name in ("splitByChar", "splitByString", "splitByRegexp")
            and len(node.args) == 3
            and str(ctx.settings.get(
                "splitby_max_substrings_includes_remaining_string",
                0)).strip("'\"").lower() in ("1", "true")):
        # the remainder-keeping lowering needs the separator and count
        # at plan time; never silently discard the remainder when the
        # setting is on and the count is column-valued
        raise BuildError(
            f"{name} with a non-literal separator/max_substrings does "
            f"not support "
            f"splitby_max_substrings_includes_remaining_string=1")
    # literal-arg passthrough for registry fns wanting python values
    if name in REGISTRY:
        py_args = []
        for i, (a, c) in enumerate(zip(node.args, cols)):
            if isinstance(a, Literal) and _wants_literal(name):
                py_args.append(a.value)
            elif (isinstance(a, ArrayLiteral) and _wants_literal(name)
                    and all(isinstance(x, Literal) for x in a.items)):
                # transform(x, [1,2], ['a','b'], d) wants python lists
                py_args.append([x.value for x in a.items])
            elif (isinstance(a, IntervalExpr) and _wants_literal(name)
                    and isinstance(a.value, Literal)):
                # toStartOfInterval(ts, INTERVAL 15 MINUTE) / tumble /
                # hop want a duration string, not an interval Column
                py_args.append(f"{a.value.value} {a.unit.lower()}")
            elif (i == 0 and name in _UNIT_ARG_FNS
                    and isinstance(a, Identifier) and len(a.parts) == 1
                    and a.name.lower() in _INTERVAL_UNITS):
                # dateAdd(DAY, 5, d): the unit is an interval keyword,
                # not a column (ExpressionListParsers.cpp:566-651)
                py_args.append(a.name.lower())
            else:
                py_args.append(c)
        try:
            return REGISTRY[name](*py_args)
        except TypeError as e:
            # CH reports wrong argument counts as a NAMED error — never
            # leak the registry lambda's raw TypeError
            raise BuildError(
                f"wrong number (or kind) of arguments for function "
                f"{name}: {e}") from None
    if ctx.udfs and node.name in ctx.udfs:
        # CREATE FUNCTION SQL lambda: substitute call args into the
        # body AST and evaluate — pure macro expansion, so the UDF
        # stays JVM-side whole-stage-codegen like any hand-written
        # expression (never a Python UDF)
        lam = ctx.udfs[node.name]
        if isinstance(lam, Lambda):
            if len(lam.params) != len(node.args):
                raise BuildError(
                    f"function {node.name} expects {len(lam.params)} "
                    f"arguments, got {len(node.args)}")
            return _eval(_substitute(
                lam.body, dict(zip(lam.params, node.args))), ctx, df)
        if node.args:
            raise BuildError(f"function {node.name} takes no arguments")
        return _eval(lam, ctx, df)
    raise BuildError(f"unknown function: {name}")


def _substitute(n, mapping: dict):
    """Replace parameter identifiers with argument ASTs (UDF macro
    expansion); inner lambdas shadow same-named parameters."""
    if isinstance(n, Identifier) and len(n.parts) == 1 and n.name in mapping:
        return mapping[n.name]
    if isinstance(n, Lambda):
        inner = {k: v for k, v in mapping.items() if k not in n.params}
        return Lambda(n.params, _substitute(n.body, inner)) if inner else n
    if isinstance(n, FuncCall):
        return FuncCall(n.name,
                        [a if isinstance(a, Subquery)
                         else _substitute(a, mapping) for a in n.args],
                        n.params, n.distinct, n.filter_where, n.window)
    if isinstance(n, Alias):
        return Alias(_substitute(n.expr, mapping), n.alias)
    if isinstance(n, Cast):
        return Cast(_substitute(n.expr, mapping), n.type_name)
    if isinstance(n, ArrayLiteral):
        return ArrayLiteral([_substitute(a, mapping) for a in n.items])
    if isinstance(n, TupleLiteral):
        return TupleLiteral([_substitute(a, mapping) for a in n.items])
    return n


_LITERAL_ARG_FNS = {
    "like", "notLike", "ilike", "notILike", "match", "splitByChar",
    "splitByString", "splitByRegexp", "position", "extract", "extractAll", "format",
    "replaceOne", "replaceAll", "replaceRegexpOne", "replaceRegexpAll",
    "startsWith", "endsWith", "substring", "left", "right", "repeat",
    "round", "roundBankers", "trunc", "truncate", "JSONExtractString", "JSONExtractInt",
    "JSONExtractUInt", "JSONExtractFloat", "JSONExtractBool", "JSONHas", "JSONExtractRaw",
    "JSONExtractArrayRaw", "JSONExtractKeys", "JSONType", "JSONLength", "JSON_VALUE", "JSON_QUERY",
    "JSON_EXISTS", "visitParamExtractInt", "visitParamExtractUInt",
    "visitParamExtractFloat",
    "visitParamExtractBool", "visitParamExtractRaw", "visitParamHas",
    "visitParamExtractString",
    "dateDiff", "dateAdd", "dateSub", "timestampAdd", "timestampSub",
    "dateName", "formatDateTime", "toTimeZone", "toDecimal32", "toDecimal64",
    "toDecimal128", "toDecimal256", "toDecimal32OrNull", "toDecimal64OrNull",
    "toDecimal128OrNull", "toDecimal256OrNull", "toDecimal32OrZero",
    "toDecimal64OrZero", "toDecimal128OrZero", "toDecimal256OrZero",
    "toDecimal32OrDefault", "toDecimal64OrDefault", "toDecimal128OrDefault",
    "toDecimal256OrDefault", "multiplyDecimal",
    "toDateTime64", "arrayElement", "arraySlice", "ngrams",
    "leftPad", "rightPad", "tupleElement", "indexOf", "has", "bitShiftLeft",
    "bitShiftRight", "bitTest", "toStartOfInterval", "arrayStringConcat",
    "range", "addDays", "subtractDays", "addHours", "addMonths", "addYears",
    "tumble", "hop", "tumbleStart", "tumbleEnd", "concatWithSeparator",
    "concat_ws", "cutIPv6", "toDateTime",
    "arrayReduce", "transform", "JSONExtract", "toFixedString",
    "accurateCast", "accurateCastOrNull", "age", "positionCaseInsensitive",
    "JSONExtractKeysAndValues", "simpleJSONExtractInt",
    "simpleJSONExtractUInt",
    "simpleJSONExtractFloat", "simpleJSONExtractBool",
    "simpleJSONExtractString", "simpleJSONExtractRaw", "simpleJSONHas",
    "randomString", "space", "toDecimalString", "dateTrunc", "date_trunc",
    "extractGroups", "extractAllGroups", "addWeeks", "subtractWeeks",
    "addQuarters", "subtractQuarters", "subtractHours", "subtractMonths",
    "subtractYears", "translate", "translateUTF8", "defaultValueOfTypeName", "substringIndex", "hasToken",
    "extractKeyValuePairs", "str_to_map", "instr", "parseDateTime",
    "parseDateTimeOrNull", "parseDateTimeInJodaSyntax",
    "parseDateTimeOrZero", "parseDateTimeInJodaSyntaxOrNull",
    "parseDateTimeInJodaSyntaxOrZero",
    "formatDateTimeInJodaSyntax", "fromUnixTimestampInJodaSyntax",
    "fromUnixTimestamp",
    "accurateCastOrDefault", "neighbor", "proportionsZTest",
    "divideDecimal", "geohashEncode", "mortonDecode", "hilbertDecode",
    "jumpConsistentHash",
    "toWeek", "toYearWeek", "toDayOfWeek", "formatReadableTimeDelta",
    "arrayShingles", "leftUTF8", "rightUTF8", "wordShingleMinHash",
    "wordShingleMinHashCaseInsensitive", "minSampleSizeConversion",
    "minSampleSizeContinuous", "regexpExtract", "locate",
    "arrayReduceInRanges", "bitSlice", "LpNorm", "LpDistance",
    "LpNormalize", "mapContainsKeyLike", "mapExtractKeyLike",
    "extractAllGroupsVertical", "extractAllGroupsHorizontal",
}


_UNIT_ARG_FNS = {"dateDiff", "dateAdd", "dateSub", "timestampAdd",
                 "timestampSub", "dateName", "toStartOfInterval", "age"}
_INTERVAL_UNITS = {"year", "quarter", "month", "week", "day", "hour",
                   "minute", "second", "millisecond", "microsecond",
                   "nanosecond"}


def _wants_literal(name: str) -> bool:
    return name in _LITERAL_ARG_FNS


_TUPLE_ARITH = {"tuplePlus", "tupleMinus", "tupleMultiply", "tupleDivide",
                "tupleNegate", "tupleMultiplyByNumber",
                "tupleDivideByNumber", "tupleHammingDistance"}

_VEC_TUPLE_FNS = {"L1Norm", "L2Norm", "LinfNorm", "L1Distance",
                  "L2Distance", "cosineDistance", "dotProduct",
                  "normalizeL1", "normalizeL2"}


def _struct_as_array(arg, c: Column, ctx: Context,
                     df: DataFrame) -> Column:
    """Tuple → Array adaptation for the vector-math family: CH's
    distance/norm functions take either; the kernels are array HOFs."""
    from pyspark.sql.types import StructType
    dt = _probe_dtype(arg, c, ctx, df)
    if isinstance(dt, StructType):
        return F.array(*[c[f.name] for f in dt.fields])
    return c


def _tuple_arith(name: str, node, cols: list, ctx: Context,
                 df: DataFrame) -> Column:
    """Element-wise tuple arithmetic (public CH tuple-math family):
    resolve the struct's field names from the analyzed schema (or the
    HOF lambda binding), apply the op per field, rebuild the struct
    with the same field names."""
    from pyspark.sql.types import StructType
    dt = _probe_dtype(node.args[0], cols[0], ctx, df)
    if not isinstance(dt, StructType):
        raise BuildError(f"{name}: first argument must be a Tuple")
    fields = [f.name for f in dt.fields]
    a = cols[0]
    if name == "tupleNegate":
        return F.struct(*[(-a[f]).alias(f) for f in fields])
    b = cols[1]
    if name in ("tupleMultiplyByNumber", "tupleDivideByNumber"):
        op = ((lambda x: x * b) if name == "tupleMultiplyByNumber"
              else (lambda x: x / b))
        return F.struct(*[op(a[f]).alias(f) for f in fields])
    if name == "tupleHammingDistance":
        # count of differing positions (docs: ((1,2,3),(3,2,1)) = 2);
        # NULL-safe so a NULL element only matches another NULL
        cnt = None
        for f in fields:
            d = (~a[f].eqNullSafe(b[f])).cast("int")
            cnt = d if cnt is None else cnt + d
        return cnt
    ops = {"tuplePlus": lambda x, y: x + y,
           "tupleMinus": lambda x, y: x - y,
           "tupleMultiply": lambda x, y: x * y,
           "tupleDivide": lambda x, y: x / y}
    op = ops[name]
    return F.struct(*[op(a[f], b[f]).alias(f) for f in fields])


_DT64_UNIT_SCALE = {"addMilliseconds": 3, "subtractMilliseconds": 3,
                    "addMicroseconds": 6, "subtractMicroseconds": 6,
                    "addNanoseconds": 9, "subtractNanoseconds": 9,
                    "fromUnixTimestamp64Milli": 3,
                    "fromUnixTimestamp64Micro": 6,
                    "fromUnixTimestamp64Nano": 9}


def _dt64_scale_of(node) -> int | None:
    """Declared DateTime64 scale of an expression, recursing through
    the date-arithmetic wrappers (CH: addMilliseconds over DateTime
    yields DateTime64(3); the Spark timestamp carries no scale)."""
    if isinstance(node, Alias):
        return _dt64_scale_of(node.expr)
    if isinstance(node, FuncCall):
        if node.name == "toDateTime64" and len(node.args) >= 2 \
                and isinstance(node.args[1], Literal):
            return int(node.args[1].value)
        unit = _DT64_UNIT_SCALE.get(node.name)
        if unit is not None:
            inner = (_dt64_scale_of(node.args[0]) or 0) if node.args \
                else 0
            return max(unit, inner)
        if node.name.startswith(("add", "subtract", "toStartOf",
                                 "toTimeZone")) and node.args:
            return _dt64_scale_of(node.args[0])
    return None


def _literal_render_type(node) -> str | None:
    """CH type name of a pure literal expression for introspection
    (FieldToDataType over Fields): NULL → Nullable(Nothing); array
    literals take the least supertype of their element literal types
    ([1,2] → Array(UInt8), [1,-1] → Array(Int16), [1,NULL] →
    Array(Nullable(UInt8))); tuple literals → Tuple(...). Non-literal
    shapes return None and defer to schema-based inference."""
    if isinstance(node, Literal):
        if node.value is None:
            return "Nullable(Nothing)"
        if isinstance(node.value, str):
            return "String"
        return ch_literal_type(node.value)
    if isinstance(node, ArrayLiteral):
        if not node.items:
            return "Array(Nothing)"
        has_null = any(isinstance(i, Literal) and i.value is None
                       for i in node.items)
        elems = [_literal_render_type(i) for i in node.items
                 if not (isinstance(i, Literal) and i.value is None)]
        if not elems:
            return "Array(Nullable(Nothing))"
        if any(e is None for e in elems):
            return None
        if len(set(elems)) == 1:
            inner = elems[0]
        else:
            try:
                inner = least_supertype(list(set(elems)))
            except Exception:
                return None
        if has_null:
            inner = f"Nullable({inner})"
        return f"Array({inner})"
    if isinstance(node, TupleLiteral):
        elems = [_literal_render_type(i) for i in node.items]
        if any(e is None for e in elems):
            return None
        return "Tuple(" + ", ".join(elems) + ")"
    if isinstance(node, FuncCall):
        # explicit constructors keep literal element typing — CH types
        # tuple(1,'a') and (1,'a') identically (FieldToDataType)
        if node.name == "tuple" and node.args:
            elems = [_literal_render_type(i) for i in node.args]
            if any(e is None for e in elems):
                return None
            return "Tuple(" + ", ".join(elems) + ")"
        if node.name == "map" and node.args and len(node.args) % 2 == 0:
            ks = [_literal_render_type(i) for i in node.args[0::2]]
            vs = [_literal_render_type(i) for i in node.args[1::2]]
            if any(e is None for e in ks + vs):
                return None
            try:
                kt = ks[0] if len(set(ks)) == 1 \
                    else least_supertype(list(set(ks)))
                vt = vs[0] if len(set(vs)) == 1 \
                    else least_supertype(list(set(vs)))
            except Exception:
                return None
            return f"Map({kt}, {vt})"
        # conversion constructors carry their declared CH type
        if node.name in ("toIPv4", "toUUID", "toIPv6"):
            return node.name[2:]
        if node.name == "toFixedString" and len(node.args) == 2 \
                and isinstance(node.args[1], Literal):
            return f"FixedString({node.args[1].value})"
        if node.name == "toDate" :
            return "Date"
        if node.name in ("toDateTime", "now"):
            return "DateTime"
    return None


def _infer_ch_type(node, ctx: Context, df: DataFrame | None,
                   _seen: frozenset = frozenset()) -> str | None:
    """Best-effort CH numeric type of an expression (None = unknown).

    Sources, in priority order: literal typing (the reference's
    FieldToDataType — smallest fitting type, non-negative → unsigned),
    declared DDL column types (the only place true unsigned-ness
    survives; Spark stores UInt8 as smallint), the Spark schema's
    signed view, to<Type> conversions, and recursion through arithmetic
    via NumberTraits. Anything non-numeric or unresolvable → None, and
    the caller leaves Spark's own coercion alone.
    """
    if isinstance(node, Alias):
        return _infer_ch_type(node.expr, ctx, df, _seen)
    if isinstance(node, Literal):
        return ch_literal_type(node.value)
    if isinstance(node, Cast):
        t = node.type_name.strip()
        if t.lower().startswith("nullable(") and t.endswith(")"):
            t = t[9:-1].strip()
        for k in CH_NUMERIC:
            if k.lower() == t.lower():
                return k
        return None
    if isinstance(node, Identifier):
        name = node.name
        if name in ctx.lambda_params:
            return None
        declared = ctx.ch_types.get(name,
                                    ctx.ch_types.get(node.parts[-1]))
        if declared is not None:
            # "" marks a name ambiguous across joined tables
            return declared if declared in CH_NUMERIC else None
        if name in ctx.aliases and name not in _seen:
            return _infer_ch_type(ctx.aliases[name], ctx, df,
                                  _seen | {name})
        if df is not None:
            try:
                dt = df.schema[node.parts[-1]].dataType.simpleString()
            except Exception:
                return None
            return spark_type_to_ch_numeric(dt)
        return None
    if isinstance(node, FuncCall):
        nm = node.name
        from ..functions.registry import CANONICAL as _can
        if _can.get(nm, nm) in _BOOL_RESULT_FNS:
            return "UInt8"       # predicates are UInt8 numbers in CH
        base = nm[:-6] if nm.endswith("OrZero") else (
            nm[:-6] if nm.endswith("OrNull") else nm)
        if base.startswith("to") and base[2:] in CH_NUMERIC:
            return base[2:]
        if nm in ("plus", "minus", "multiply", "divide", "intDiv",
                  "modulo") and len(node.args) == 2:
            ta = _infer_ch_type(node.args[0], ctx, df, _seen)
            tb = _infer_ch_type(node.args[1], ctx, df, _seen)
            if ta is not None and tb is not None:
                return arithmetic_result_type(nm, ta, tb)
        if nm == "negate" and len(node.args) == 1:
            ta = _infer_ch_type(node.args[0], ctx, df, _seen)
            return negate_result_type(ta) if ta is not None else None
    return None


def _refs_lambda_param(n, ctx: Context) -> bool:
    """True when the expression references a name bound as a lambda
    parameter in the current scope — such columns resolve only inside
    their HOF, never against the frame."""
    if not ctx.lambda_params:
        return False
    if isinstance(n, Identifier):
        return (n.name in ctx.lambda_params
                or n.parts[0] in ctx.lambda_params)
    if isinstance(n, FuncCall):
        return any(_refs_lambda_param(a, ctx) for a in n.args
                   if not isinstance(a, (Lambda, Subquery)))
    if isinstance(n, (Alias, Cast)):
        return _refs_lambda_param(n.expr, ctx)
    if isinstance(n, (ArrayLiteral, TupleLiteral)):
        return any(_refs_lambda_param(a, ctx) for a in n.items)
    return False


def _ch_literal_render(col: Column, dt) -> Column:
    """CH text rendering of a composite value as its literal form (the
    IColumn text serialization toString uses): arrays ``[1,2]``, tuples
    ``(1,'a')``, maps ``{'k':1}`` — no spaces, strings/dates inside
    composites single-quoted with backslash escaping, floats trimmed of
    the integral ``.0``, NULL elements as ``NULL``. Pure JVM expression
    tree built from the resolved dtype."""
    from pyspark.sql.types import (ArrayType, BooleanType, DateType,
                                   MapType, StringType, StructType,
                                   TimestampNTZType, TimestampType)

    def render(c: Column, t, quoted: bool) -> Column:
        if isinstance(t, ArrayType):
            inner = F.transform(
                c, _render_closure(t.elementType))
            return F.concat(F.lit("["),
                            F.array_join(inner, ",", "NULL"),
                            F.lit("]"))
        if isinstance(t, MapType):
            ents = F.transform(
                F.map_entries(c),
                _map_entry_closure(t.keyType, t.valueType))
            return F.concat(F.lit("{"),
                            F.array_join(ents, ",", "NULL"),
                            F.lit("}"))
        if isinstance(t, StructType):
            parts: list = [F.lit("(")]
            for i, fld in enumerate(t.fields):
                if i:
                    parts.append(F.lit(","))
                parts.append(F.coalesce(
                    render(c[fld.name], fld.dataType, True),
                    F.lit("NULL")))
            parts.append(F.lit(")"))
            return F.concat(*parts)
        if isinstance(t, StringType):
            esc = F.regexp_replace(
                F.regexp_replace(c, r"\\", r"\\\\"), "'", r"\\'")
            return (F.concat(F.lit("'"), esc, F.lit("'"))
                    if quoted else c)
        if isinstance(t, (DateType, TimestampType, TimestampNTZType)):
            s = c.cast("string")
            if isinstance(t, (TimestampType, TimestampNTZType)):
                s = F.date_format(c, "yyyy-MM-dd HH:mm:ss")
            return (F.concat(F.lit("'"), s, F.lit("'"))
                    if quoted else s)
        if isinstance(t, BooleanType):
            return F.when(c, F.lit("true")).otherwise(F.lit("false"))
        out = c.cast("string")
        if t.simpleString() in ("float", "double"):
            out = F.regexp_replace(out, r"^(-?\d+)\.0$", "$1")
        elif t.simpleString().startswith("decimal"):
            out = F.regexp_replace(
                F.regexp_replace(out, r"(\.\d*?)0+$", "$1"),
                r"\.$", "")
        return out

    def _render_closure(t):
        return lambda x: render(x, t, True)

    def _map_entry_closure(kt, vt):
        return lambda e: F.concat(
            F.coalesce(render(e["key"], kt, True), F.lit("NULL")),
            F.lit(":"),
            F.coalesce(render(e["value"], vt, True), F.lit("NULL")))

    return render(col, dt, False)


def _enum_pairs(cht: str | None) -> list | None:
    """('name', value) pairs of a declared Enum8/Enum16 CH type text."""
    if not cht or not cht.strip().startswith("Enum"):
        return None
    m = _re_mod.match(r"Enum(?:8|16)?\s*\((.*)\)\s*$", cht.strip())
    if not m:
        return None
    pairs = _re_mod.findall(r"'((?:[^'\\]|\\.)*)'\s*=\s*(-?\d+)",
                            m.group(1))
    return [(k.replace("\\'", "'"), int(v)) for k, v in pairs] or None


def _declared_enum(node, ctx: Context) -> list | None:
    if isinstance(node, Alias):
        return _declared_enum(node.expr, ctx)
    if isinstance(node, Identifier):
        t = ctx.ch_types.get(node.name) \
            or ctx.ch_types.get(node.parts[-1])
        return _enum_pairs(t)
    return None


def _enum_to_number(src: Column, pairs: list) -> Column:
    """Enum name column → its declared numeric value (CAST(enum, Int8)
    semantics; storage keeps the name string)."""
    out = None
    for k, v in pairs:
        c = F.when(src == F.lit(k), F.lit(v))
        out = c if out is None else out.when(src == F.lit(k), F.lit(v))
    return out


def _probe_dtype(arg, col, ctx: Context, df: DataFrame | None):
    """Resolved Spark DataType of an argument expression, or None.

    Frame columns resolve through a schema-only plan analysis (no job).
    Lambda parameters resolve through the type the enclosing HOF bound
    for them — df.select would throw AnalysisException there, since the
    param only exists inside the HOF. Composite expressions over lambda
    params stay None (callers keep their documented fallback)."""
    if _refs_lambda_param(arg, ctx):
        if isinstance(arg, Identifier) and len(arg.parts) == 1:
            return ctx.lambda_param_types.get(arg.name)
        return None
    if df is None:
        return None
    # static fast paths — each df.select(col).schema probe re-analyzes
    # the whole plan (~10-20ms); resolve trivially-typed expressions
    # from the frame's CACHED schema / the literal value instead
    if isinstance(arg, Alias):
        arg = arg.expr
    if isinstance(arg, Identifier) and len(arg.parts) == 1 \
            and arg.name not in ctx.aliases:
        nm = arg.name
        if df.columns.count(nm) == 1:
            try:
                return df.schema[nm].dataType
            except Exception:
                pass
    if isinstance(arg, Literal):
        from pyspark.sql import types as _T
        v = arg.value
        if isinstance(v, bool):
            return _T.BooleanType()
        if isinstance(v, int):
            if -(1 << 31) <= v < (1 << 31):
                return _T.IntegerType()
            if -(1 << 63) <= v < (1 << 64):
                return _T.LongType()     # UInt64 carries as Long (§1.2)
            return _T.DecimalType(38, 0)
        if isinstance(v, float):
            return _T.DoubleType()
        if isinstance(v, str):
            return _T.StringType()
    key = (id(df), _ast_key(arg))
    hit = _PROBE_CACHE.get(key)
    if hit is not None and hit[0] is df:
        return hit[1]
    try:
        dt = df.select(col).schema[0].dataType
    except Exception:
        dt = None
    if len(_PROBE_CACHE) > 4096:
        _PROBE_CACHE.clear()
    # the value keeps df alive, so its id cannot be reused while cached
    _PROBE_CACHE[key] = (df, dt)
    return dt


_PROBE_CACHE: dict = {}


_COND_HOFS = {"arrayFilter", "arrayExists", "arrayAll", "arrayCount",
              "arraySplit", "arrayReverseSplit", "arrayFill",
              "arrayReverseFill", "arrayFirst", "arrayLast",
              "arrayFirstIndex", "arrayLastIndex", "arrayFirstOrNull",
              "arrayLastOrNull"}


def _hof_call(node: FuncCall, ctx: Context, df: DataFrame | None) -> Column:
    """Higher-order function with lambda argument(s):
    arrayMap(x -> e, a) etc."""
    lam = next(a for a in node.args if isinstance(a, Lambda))
    arr_nodes = [a for a in node.args if not isinstance(a, Lambda)]
    arrays = [_eval(a, ctx, df) for a in arr_nodes]

    # Bind the dtype each lambda parameter ranges over (from the array
    # argument's resolved element type) so type-dispatched functions in
    # the body can see it through _probe_dtype. Nested HOFs chain: the
    # array arg may itself be an outer lambda param whose type the
    # outer _hof_call bound.
    from pyspark.sql.types import ArrayType, MapType

    def _elem(i: int):
        dt = _probe_dtype(arr_nodes[i], arrays[i], ctx, df)
        return dt.elementType if isinstance(dt, ArrayType) else None

    ptypes: dict = {}
    if (node.name == "arrayFold" and len(lam.params) == 2
            and len(arrays) == 2):
        # arrayFold(λ(acc, x), arr, init): acc has init's type
        ptypes[lam.params[0]] = _probe_dtype(arr_nodes[1], arrays[1],
                                             ctx, df)
        ptypes[lam.params[1]] = _elem(0)
    elif len(lam.params) == len(arrays):
        for i, p in enumerate(lam.params):
            ptypes[p] = _elem(i)
    elif len(lam.params) == 2 and len(arrays) == 1:
        dt = _probe_dtype(arr_nodes[0], arrays[0], ctx, df)
        if isinstance(dt, MapType):      # map HOF: λ(k, v)
            ptypes[lam.params[0]] = dt.keyType
            ptypes[lam.params[1]] = dt.valueType
    elif len(lam.params) == 1 and arrays:
        ptypes[lam.params[0]] = _elem(0)

    def _body(*args: Column) -> Column:
        inner = Context(ctx.spark, ctx.tables, ctx.aliases,
                        dict(ctx.lambda_params), ctx.columns,
                        engines=ctx.engines)
        inner.lambda_param_types = {**ctx.lambda_param_types, **ptypes}
        for p, c in zip(lam.params, args):
            inner.lambda_params[p] = c
        return _eval(lam.body, inner, df)

    name = node.name
    # condition-consuming HOFs accept CH truthy ints (arrayFilter(x ->
    # x % 2, …)); Spark's filter/exists demand boolean — coerce
    as_bool = name in _COND_HOFS

    def _res(*args: Column) -> Column:
        out = _body(*args)
        return out.cast("boolean") if as_bool else out

    # PySpark inspects the callable's positional arity — give it an exact
    # signature, not *args
    if len(lam.params) == 1:
        fn = lambda a: _res(a)                     # noqa: E731
    elif len(lam.params) == 2:
        fn = lambda a, b: _res(a, b)               # noqa: E731
    else:
        fn = lambda a, b, c: _res(a, b, c)         # noqa: E731
    if name in ("arrayMap", "arrayFilter", "arrayExists", "arrayAll",
                "arrayCount") and len(arrays) > 1:
        # multi-array form: the lambda runs over POSITION-ALIGNED
        # elements of every array (CH semantics). Spark's transform
        # would silently feed the element INDEX as the second lambda
        # argument — never fall through to that.
        if len(lam.params) != len(arrays):
            raise BuildError(
                f"{name}: lambda takes {len(lam.params)} args but "
                f"{len(arrays)} arrays were passed")

        def mapped(f):
            if len(arrays) == 2:
                return F.zip_with(arrays[0], arrays[1], f)
            if len(arrays) == 3:
                p = F.zip_with(arrays[0], arrays[1],
                               lambda x, y: F.struct(x.alias("a"),
                                                     y.alias("b")))
                return F.zip_with(p, arrays[2],
                                  lambda s, z: f(s["a"], s["b"], z))
            raise BuildError(f"{name}: at most 3 arrays supported")

        if name == "arrayMap":
            return mapped(fn)
        mask = mapped(fn)
        if name == "arrayExists":
            return F.exists(mask, lambda m: m)
        if name == "arrayAll":
            return F.forall(mask, lambda m: m)
        if name == "arrayCount":
            return F.size(F.filter(mask, lambda m: m))
        # arrayFilter: keep FIRST array's elements where the mask holds
        # (null-safe: genuine NULL elements survive)
        kept = F.zip_with(arrays[0], mask,
                          lambda v, m: F.struct(v.alias("v"),
                                                m.alias("k")))
        return F.transform(F.filter(kept, lambda s: s["k"]),
                           lambda s: s["v"])
    if name in ("arrayMap", "arrayFilter", "arrayExists", "arrayAll",
                "arrayCount"):
        target = {"arrayMap": F.transform, "arrayFilter": F.filter,
                  "arrayExists": F.exists, "arrayAll": F.forall}.get(name)
        if name == "arrayCount":
            return F.size(F.filter(arrays[0], fn))
        return target(arrays[0], fn)
    if name in ("arraySort", "arrayReverseSort"):
        # sort the FIRST array's VALUES by the lambda key evaluated over
        # the element tuples (arr1[i], arr2[i], …) — returning sorted
        # keys (the old transform-then-sort shape) is a wrong answer
        arr = arrays[0]
        idx = F.sequence(F.lit(1), F.size(arr))
        keyed = F.transform(idx, lambda i: F.struct(
            fn(*[F.element_at(a, i) for a in arrays]).alias("k"),
            i.alias("i"),
            F.element_at(arr, i).alias("v")))
        if name == "arrayReverseSort":
            srt = F.array_sort(
                keyed, lambda x, y: (F.when(x["k"] > y["k"], F.lit(-1))
                                     .when(x["k"] < y["k"], F.lit(1))
                                     .otherwise(x["i"] - y["i"])))
        else:
            srt = F.array_sort(keyed)   # (k, i, v): key then stable idx
        return F.transform(srt, lambda s: s["v"])
    if name == "arrayFold":
        # arrayFold(λ(acc, x), arr, init) — CH arg order; F.aggregate
        # takes (arr, init, merge)
        return F.aggregate(arrays[0], arrays[1], fn)
    # registry HOFs (arrayFirst/arrayLast/arrayFirstIndex/…) take the
    # bound callable as their first argument
    if name in REGISTRY:
        return REGISTRY[name](fn, *arrays)
    raise BuildError(f"unsupported HOF: {name}")


def _window_call(node: FuncCall, cols: list, ctx: Context,
                 df: DataFrame | None) -> Column:
    spec = node.window
    if isinstance(spec, str):           # OVER w → look up WINDOW clause
        if spec not in ctx.windows:
            raise BuildError(f"unknown named window: {spec}")
        spec = ctx.windows[spec]
    w = Window.partitionBy(*[_eval(p, ctx, df) for p in spec.partition_by])
    range_rebase_kind = None        # temporal RANGE rebase unit
    if spec.order_by:
        order_cols = [_order_col(df, it, ctx) for it in spec.order_by]
        if (spec.frame and spec.frame[0] == "RANGE"
                and len(spec.order_by) == 1 and df is not None
                and not all(b in ("UNBOUNDED PRECEDING", "CURRENT ROW",
                                  "UNBOUNDED FOLLOWING")
                            for b in spec.frame[1:])):
            # CH RANGE offsets over temporal ORDER BY count SECONDS
            # (DateTime) / DAYS (Date); Spark requires a numeric order
            # column for numeric range bounds — rebase to epoch units
            # (order-equivalent: both are second/day precision)
            raw = _eval(spec.order_by[0].expr
                        if isinstance(spec.order_by[0], OrderItem)
                        else spec.order_by[0], ctx, df)
            try:
                s = df.select(raw).schema[0].dataType.simpleString()
            except Exception:
                s = ""
            rebased = None
            if s.startswith("timestamp"):
                rebased = F.unix_timestamp(raw)
                range_rebase_kind = "sec"
            elif s == "date":
                rebased = F.datediff(raw, F.lit("1970-01-01"))
                range_rebase_kind = "day"
            if rebased is not None:
                it = spec.order_by[0]
                if it.desc:
                    rebased = (rebased.desc_nulls_first() if it.nulls_first
                               else rebased.desc_nulls_last())
                else:
                    rebased = (rebased.asc_nulls_first() if it.nulls_first
                               else rebased.asc_nulls_last())
                order_cols = [rebased]
        w = w.orderBy(*order_cols)
    name = node.name
    if not spec.order_by and (
            node.name in _WINDOW_FNS or node.name in _WINDOW_VALUE_FNS
            or node.name in ("lagInFrame", "leadInFrame",
                             "nonNegativeDerivative")):
        # CH allows OVER () for every window function — the order is
        # whatever the scan produces; RANKING/value functions need SOME
        # order in Spark, so use the row-identity surrogate. Plain
        # aggregates keep the unordered whole-partition window (an
        # injected order would flip the default frame to a running one).
        w = w.orderBy(F.monotonically_increasing_id())
    if name == "nonNegativeDerivative" and len(cols) >= 2:
        # nonNegativeDerivative(value, ts[, INTERVAL n unit]): rate of
        # change vs the previous frame row per second (or per the given
        # interval); negative rates and the first row yield 0
        scale = 1.0
        if len(node.args) > 2 and isinstance(node.args[2], IntervalExpr) \
                and isinstance(node.args[2].value, Literal):
            iv = node.args[2]
            per = {"second": 1, "minute": 60, "hour": 3600, "day": 86400,
                   "week": 604800}.get(iv.unit.lower())
            if per is None:
                raise BuildError("nonNegativeDerivative: interval unit "
                                 f"{iv.unit} not supported")
            scale = float(iv.value.value) * per
        prev_v = F.lag(cols[0], 1).over(w)
        prev_t = F.lag(cols[1], 1).over(w)
        dt_s = cols[1].cast("double") - prev_t.cast("double")
        rate = (cols[0].cast("double") - prev_v.cast("double")) \
            / dt_s * F.lit(scale)
        return F.coalesce(F.greatest(rate, F.lit(0.0)), F.lit(0.0))
    if name in ("lagInFrame", "leadInFrame"):
        # CH lag/lead WITHIN the frame, returning the explicit default
        # or the column TYPE's default out of reach. Spark's lag/lead
        # reject frames, so accept only frames whose reach side covers
        # the offset (then the frame is semantically inert) and apply
        # over the frame-free window.
        extra = [a.value for a in node.args[1:] if isinstance(a, Literal)]
        off = int(extra[0]) if extra else 1
        if spec.frame:
            mode, start, end = spec.frame
            reach = start if name == "lagInFrame" else end
            anchored = reach in ("UNBOUNDED PRECEDING",
                                 "UNBOUNDED FOLLOWING")
            try:
                k = abs(_bound(reach))
            except Exception:
                k = -1
            if mode != "ROWS" or not (anchored or k >= off):
                raise BuildError(
                    f"{name}: only ROWS frames whose "
                    f"{'start' if name == 'lagInFrame' else 'end'} "
                    f"covers the offset are supported")
        if len(extra) > 1:
            default: Column | None = F.lit(extra[1])
        else:
            default = None
            if df is not None:
                try:
                    dts = (df.select(cols[0]).schema[0]
                           .dataType.simpleString())
                except Exception:
                    dts = ""
                if dts in ("tinyint", "smallint", "int", "bigint",
                           "float", "double"):
                    default = F.lit(0).cast(dts)
                elif dts == "string":
                    default = F.lit("")
                elif dts == "boolean":
                    default = F.lit(False)
        fn = F.lag if name == "lagInFrame" else F.lead
        out = fn(cols[0], off).over(w)
        return F.coalesce(out, default) if default is not None else out
    if spec.frame:
        mode, start, end = spec.frame
        if mode == "GROUPS":
            # should have been rewritten by _lower_groups_frames
            raise BuildError("GROUPS frame is only supported in the "
                             "SELECT list of a non-aggregating query")
        lo = _bound(start, range_rebase_kind)
        hi = _bound(end, range_rebase_kind)
        w = w.rowsBetween(lo, hi) if mode == "ROWS" else w.rangeBetween(lo, hi)
    if name in _WINDOW_FNS:
        args = [a.value for a in node.args if isinstance(a, Literal)]
        return _WINDOW_FNS[name](*args).over(w)
    if name in _WINDOW_VALUE_FNS:
        extra = [a.value for a in node.args[1:] if isinstance(a, Literal)]
        if node.nulls_modifier is not None:
            ign = node.nulls_modifier == "ignore"
            if name in ("first_value", "last_value"):
                f = F.first if name == "first_value" else F.last
                return f(cols[0], ignorenulls=ign).over(w)
            if name in ("nth_value", "nthValue"):
                return F.nth_value(cols[0], *extra,
                                   ignoreNulls=ign).over(w)
            if ign:
                # never silently drop the modifier
                raise BuildError(f"IGNORE NULLS not supported for {name}")
        return _WINDOW_VALUE_FNS[name](cols[0], *extra).over(w)
    if _is_agg_name(name):
        inner = FuncCall(node.name, node.args, node.params, node.distinct,
                         node.filter_where,
                         nulls_modifier=node.nulls_modifier)
        # _agg_column applies .over(w) per aggregate leg — the
        # empty-frame/empty-subset default gate is a CASE over two
        # windowed aggregates, which .over() could not wrap whole
        return _agg_column(inner, ctx, df, over=w)
    raise BuildError(f"unknown window function: {name}")


def _bound(text: str, rebase_kind: str | None = None) -> int:
    if text == "UNBOUNDED PRECEDING":
        return Window.unboundedPreceding
    if text == "UNBOUNDED FOLLOWING":
        return Window.unboundedFollowing
    if text == "CURRENT ROW":
        return Window.currentRow
    if text.startswith("INTERVAL "):
        # INTERVAL n unit PRECEDING|FOLLOWING over a temporal ORDER BY:
        # the order column was rebased to epoch seconds (timestamp) or
        # days (date), so the offset converts to that unit. Variable-
        # width units (MONTH/QUARTER/YEAR) have no fixed span — named
        # error, same as CH's NOT_IMPLEMENTED for them
        _, n, unit, kind = text.split()
        secs = {"SECOND": 1, "MINUTE": 60, "HOUR": 3600,
                "DAY": 86400, "WEEK": 604800}.get(unit)
        if secs is None:
            raise BuildError(
                f"RANGE INTERVAL {unit} frame offsets are not "
                f"supported (variable-width unit)")
        if rebase_kind == "day":
            if secs % 86400:
                raise BuildError(
                    "sub-day INTERVAL frame offset over a Date "
                    "ORDER BY column")
            v = int(n) * (secs // 86400)
        elif rebase_kind == "sec":
            v = int(n) * secs
        else:
            raise BuildError(
                "INTERVAL frame offsets require a Date/DateTime "
                "ORDER BY column")
        return -v if kind == "PRECEDING" else v
    n, kind = text.split()
    return -int(n) if kind == "PRECEDING" else int(n)


# --- misc -------------------------------------------------------------------

def _ast_key(node) -> str:
    if isinstance(node, Alias):
        return _ast_key(node.expr)
    return repr(node)


def _auto_name(node) -> str:
    """Unaliased output columns are named by the formatted expression
    text — the reference's ``IAST::getColumnName`` contract
    (``src/Parsers/IAST.h``): ``round(2.5)`` and ``round(3.5)`` are
    distinct column names, so multi-call SELECTs never collide."""
    if isinstance(node, Identifier):
        return node.parts[-1]
    if isinstance(node, Alias):
        return node.alias
    return format_node(node)


_DUP_MARK = "#__dup"


def _uniq_slot(name: str, used: dict) -> str:
    """Internal frame slot for an output column: exact-duplicate output
    names (``SELECT 1, 1``) get unique internal names so by-name
    operations (ORDER BY pruning) stay unambiguous; ``_out_name``
    restores the duplicate display name in the final select — CH emits
    duplicate-named result columns."""
    k = used.get(name, 0)
    used[name] = k + 1
    return name if k == 0 else f"{name}{_DUP_MARK}{k}"


def _out_name(slot: str) -> str:
    i = slot.find(_DUP_MARK)
    return slot if i < 0 else slot[:i]
