"""ES aggregations-DSL → Spark groupBy compiler.

The reference's advanced-search endpoint forwards the request body
VERBATIM to ``es.search`` (/root/reference/src/search_api.py:38-46), so
a reference user's saved queries may carry an ``aggs`` section — the
other half of the ES request the lake must answer. This module compiles
that section into DataFrame aggregation plans and assembles the
documented ES response shapes.

Supported aggregation kinds — :data:`_KINDS` at the end of this module
is the one list: each entry names a kind's accepted body keys, its
handler, whether it takes sub-aggregations and, for metrics, the
column builder and envelope reader that let it ride a parent's job.

* metrics — ``avg / sum / min / max / value_count / cardinality /
  stats / extended_stats / percentiles / percentile_ranks / missing /
  weighted_avg / scripted_metric``: every top-level metric shares ONE
  aggregation job, and the same kinds ride a bucket agg's own job as
  sub-aggs (gated per predicate under ``filter`` / ``filters``);
* single-plan metrics — ``string_stats / boxplot / t_test /
  matrix_stats / median_absolute_deviation / top_metrics /
  geo_bounds / geo_centroid / geo_line`` (top level; ``top_metrics``
  also per ``terms`` bucket);
* buckets — ``terms`` (size + count-desc order, ES tie-break by key),
  ``multi_terms``, ``rare_terms``, ``significant_terms`` /
  ``significant_text``, ``categorize_text``, ``frequent_item_sets``,
  ``histogram`` / ``date_histogram`` (calendar or fixed interval,
  time_zone, offset, gap filling), ``auto_date_histogram``,
  ``variable_width_histogram``, ``range`` / ``date_range`` /
  ``ip_range`` / ``geo_distance`` (bands, which ES allows to OVERLAP —
  each band is a conditional aggregate, so one job covers all bands),
  ``filter`` / ``filters`` / ``adjacency_matrix`` (query-DSL
  predicates via :func:`.es_dsl.compile_dsl`), ``composite``
  (key-ordered pages with ``after``-cursor resumption — the scalable
  bucket API), ``geohash_grid`` / ``geotile_grid``, ``global``,
  ``sampler`` / ``diversified_sampler``, ``nested`` (+
  ``reverse_nested``) and ``children`` / ``parent``;
* ``top_hits`` under ``terms`` buckets and at the deepest level of a
  chain — per-bucket top documents via the window top-k pattern
  (WindowGroupLimit pushdown), volume bounded by returned-buckets ×
  size;
* pipelines — sibling ``*_bucket`` reductions and parent transforms
  (``cumulative_sum``, ``derivative``, ``serial_diff``, ``moving_fn``,
  ``bucket_script`` / ``bucket_selector`` / ``bucket_sort``,
  ``normalize``, ``cumulative_cardinality``, ``moving_percentiles``,
  ``rate``) over the computed bucket lists;
* MULTI-LEVEL bucket chains: ``terms > date_histogram > metrics`` and
  deeper — one ``groupBy`` on the composite key carries every level's
  counts and every metric's mergeable components through ONE shuffle;
  the response tree is assembled driver-side from the flat frame
  (:func:`nested_levels_frame` / :func:`_assemble_levels`). Kibana's
  standard drill-down trees run as a single job.

Documented divergences (same contract as :mod:`.es_dsl`):

* ``cardinality`` is EXACT (``count_distinct``) where ES approximates
  with HLL — strictly more accurate, so ``doc_count_error_upper_bound``
  is always 0; ``percentiles`` likewise: exact interpolated order
  statistics where ES runs t-digest;
* ``terms`` ordering is count-desc with a deterministic key tie-break
  (ES leaves ties shard-dependent).

Scale notes: every bucket family is one distributed aggregation job —
``terms`` is groupBy + TakeOrdered(size) (never a full collect of the
key domain; ``sum_other_doc_count`` comes from one scalar count job),
``histogram``/``date_histogram`` group on a derived key, ``range`` and
``filter`` are conditional aggregates in a single job. Sub-metrics ride
the same shuffle as their bucket counts.
"""

from __future__ import annotations

import datetime as _dt
import re
from functools import partial
from typing import Any, Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sql_database_to_elastic_datalake_spark.localrel import local_frame
from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
    DslError,
    compile_dsl,
)

#: metric agg name -> Column factory
_METRICS = {
    "avg": F.avg,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "value_count": F.count,
    "cardinality": F.count_distinct,
}

_CALENDAR_TRUNC = {
    "second": "second", "1s": "second",
    "minute": "minute", "1m": "minute",
    "hour": "hour", "1h": "hour",
    "day": "day", "1d": "day",
    "week": "week", "1w": "week",
    "month": "month", "1M": "month",
    "quarter": "quarter", "1q": "quarter",
    "year": "year", "1y": "year",
}

_FIXED_RE = re.compile(r"^(\d+)(ms|s|m|h|d)$")
_FIXED_SECS = {"ms": 0.001, "s": 1, "m": 60, "h": 3600, "d": 86400}

#: ES date_histogram ``offset`` grammar: ``±<n><unit>`` (w = 7 days)
_OFFSET_RE = re.compile(r"^([+-]?)(\d+)(ms|s|m|h|d|w)$")
_OFFSET_SECS = {"ms": 0.001, "s": 1, "m": 60, "h": 3600, "d": 86400,
                "w": 7 * 86400}


def _parse_offset(spec) -> int:
    """ES date_histogram ``offset`` ("+6h", "-30m") → signed whole
    seconds. Sub-second offsets are a named 400 (the engine's bucket
    arithmetic is second-resolution, same contract as fixed_interval
    gap filling)."""
    if spec is None:
        return 0
    m = _OFFSET_RE.match(str(spec))
    if not m:
        raise DslError(f"unsupported date_histogram offset {spec!r}")
    secs = int(m.group(2)) * _OFFSET_SECS[m.group(3)]
    if secs != int(secs):
        raise DslError(
            f"sub-second date_histogram offset {spec!r} is not supported")
    return -int(secs) if m.group(1) == "-" else int(secs)


def _check_time_zone(tz) -> str | None:
    """Validate an ES ``time_zone`` id eagerly (named 400) instead of
    letting the JVM throw mid-job. IANA names and fixed offsets
    (``+05:30``) both resolve through zoneinfo / the JDK tz db."""
    if tz is None:
        return None
    tz = str(tz)
    if re.fullmatch(r"[+-]\d{2}:\d{2}", tz):
        return tz  # fixed-offset form — Spark accepts it directly
    try:
        from zoneinfo import ZoneInfo

        ZoneInfo(tz)
    except Exception:
        raise DslError(f"unknown time_zone {tz!r}") from None
    return tz


#: ES default percents for a percentiles agg
_DEFAULT_PERCENTS = (1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0)

def check_agg_keys(kind: str, body) -> None:
    """400 on agg-body keys outside the kind's accepted set
    (:data:`_KINDS`). Keys that only tune ES-internal execution
    (shard_size, collect_mode, …) are accepted-and-ignored — they
    cannot change results. Keys that WOULD change results and are not
    implemented are not listed: the reference forwards bodies verbatim
    to ES, so silently ignoring one would return wrong numbers with no
    error (the same posture as the search route's unknown-top-level-key
    rejection)."""
    keys = _KINDS[kind].keys if kind in _KINDS else None
    if keys is None or not isinstance(body, dict):
        return  # query-DSL / self-validating bodies; unknown kinds error later
    unknown = sorted(set(body) - keys)
    if unknown:
        raise DslError(
            f"unsupported {kind} aggregation options: {unknown} "
            f"(supported: {sorted(keys)})"
        )


def _agg_kind(spec, name: str | None = None):
    """The agg-type key of one agg spec: the single key that is not
    ``aggs``/``aggregations``/``meta``. ES JSON key order is
    client-controlled, so ``meta`` (or the sub-``aggs`` block) may
    legally precede the type. A malformed spec (not an object, zero or
    several type keys) returns None — or, given the agg's ``name``,
    raises the named 400."""
    kinds = [k for k in spec if k not in ("aggs", "aggregations", "meta")] \
        if isinstance(spec, dict) else None
    if kinds is not None and len(kinds) == 1:
        return kinds[0]
    if name is None:
        return None
    if kinds is None:
        raise DslError(f"aggregation {name!r} must be an object")
    raise DslError(f"aggregation {name!r} must have exactly one type")


def _subs(spec: dict) -> dict:
    """The sub-aggregations of one agg spec (``aggs`` or its long
    spelling)."""
    return spec.get("aggs") or spec.get("aggregations") or {}


def _check_subs(name: str, kind: str, sub) -> None:
    """A kind the table marks as taking no sub-aggregations rejects
    them by name, like ES — never a silent drop."""
    if sub and not (kind in _KINDS and _KINDS[kind].subs):
        raise DslError(
            f"{name!r} ({kind}) takes no sub-aggregations (ES rejects "
            f"sub-aggregations under {kind})")


def _size(body: dict, default: int, kind: str, lo: int = 0,
          hi: int | None = None) -> int:
    """A validated ``size`` in ``[lo, hi]`` — a named 400 for a string,
    float, bool or out-of-range value, which would otherwise fail
    inside Python or Spark."""
    size = body.get("size", default)
    if isinstance(size, bool) or not isinstance(size, int) \
            or size < lo or (hi is not None and size > hi):
        bound = f">= {lo}" if hi is None else f"in [{lo}, {hi}]"
        raise DslError(f"{kind} size must be an integer {bound}")
    return size


def _count_if(cond: Column) -> Column:
    """The conditional doc count every gated bucket shape shares."""
    return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")


def _metric_source(body: dict) -> Column:
    """The metric's input column, with ES's ``missing`` substitution
    (docs lacking the field aggregate as if they carried this value).

    A ``script`` body (Kibana's "JSON input" idiom) compiles
    through the painless-subset Column compiler — same grammar as
    ``script_score``, no ``_score`` in scope, never eval(). Script OR
    field, not both (ES's ``_value``-transform combined form is a
    named 400, not a silent drop)."""
    if isinstance(body, dict) and body.get("script") is not None:
        if body.get("field") is not None:
            raise DslError(
                "metric aggregations take field OR script (the "
                "_value transform form is not implemented)")
        from sql_database_to_elastic_datalake_spark.plans.score_dsl import (
            script_column,
        )

        spec = body["script"]
        if isinstance(spec, str):
            spec = {"source": spec}
        c = script_column(spec, F.col, base_score=None)
    else:
        if not isinstance(body, dict) or body.get("field") is None:
            # named 400, not a KeyError-500, for a body with neither
            # source (e.g. {"boxplot": {}})
            raise DslError(
                "metric aggregation requires a field or script")
        c = F.col(body["field"])
    if body.get("missing") is not None:
        return F.coalesce(c, F.lit(body["missing"]))
    return c


_RATE_UNIT_SECONDS = {"second": 1.0, "minute": 60.0, "hour": 3600.0,
                      "day": 86400.0, "week": 604800.0}


def _rate_unit_seconds(unit) -> float:
    """Seconds per rate unit. Calendar units (month/quarter/year) have
    no fixed second count — a named 400 rather than ES's own
    fixed-ms approximation (divide by day and scale client-side)."""
    u = str(unit)
    if u not in _RATE_UNIT_SECONDS:
        raise DslError(
            f"unsupported rate unit {u!r} (second/minute/hour/day/"
            "week; calendar units have no fixed length)")
    return _RATE_UNIT_SECONDS[u]


def _bucket_span_seconds(key, body: dict) -> float:
    """The CALENDAR span of one date_histogram bucket in seconds —
    next bucket start minus this one, computed in the histogram's
    time_zone so 28-vs-31-day months and 23/25-hour DST days divide
    correctly. ``key`` is the bucket-start instant the frame
    returned (naive UTC datetime)."""
    fixed = body.get("fixed_interval")
    if fixed is not None:
        m = _FIXED_RE.match(str(fixed))
        return float(m.group(1)) * _FIXED_SECS[m.group(2)]
    unit = _CALENDAR_TRUNC[str(body.get("calendar_interval"))]
    tz = _check_time_zone(body.get("time_zone"))
    from zoneinfo import ZoneInfo

    if tz and not re.fullmatch(r"[+-]\d{2}:\d{2}", tz):
        zone = ZoneInfo(tz)
    elif tz:
        sign = 1 if tz[0] == "+" else -1
        zone = _dt.timezone(sign * _dt.timedelta(
            hours=int(tz[1:3]), minutes=int(tz[4:6])))
    else:
        zone = _dt.timezone.utc
    start_utc = key.replace(tzinfo=_dt.timezone.utc)
    local = start_utc.astimezone(zone).replace(tzinfo=None)
    if unit == "month":
        t = local.year * 12 + (local.month - 1) + 1
        nxt = local.replace(year=t // 12, month=t % 12 + 1)
    elif unit == "quarter":
        t = local.year * 12 + (local.month - 1) + 3
        nxt = local.replace(year=t // 12, month=t % 12 + 1)
    elif unit == "year":
        nxt = local.replace(year=local.year + 1)
    elif unit == "week":
        nxt = local + _dt.timedelta(days=7)
    else:
        nxt = local + _dt.timedelta(
            seconds=_RATE_UNIT_SECONDS[unit])
    next_utc = nxt.replace(tzinfo=zone).astimezone(_dt.timezone.utc)
    return (next_utc - start_utc).total_seconds()


def _metric_parts(sub_aggs: dict, gate: Column | None = None):
    """``(name + suffix, Column)`` per aggregate column of metric
    sub-aggs. ``gate`` restricts every metric to rows matching it —
    the conditional-aggregation shape of the filter/filters aggs, so a
    metric kind compiles the same way at top level, under a bucket and
    under a filter."""
    for name, spec in (sub_aggs or {}).items():
        kind = _agg_kind(spec, name)
        metric = _KINDS[kind].metric if kind in _KINDS else None
        if metric is None:
            raise DslError(
                f"unsupported sub-aggregation kind {kind!r} under {name!r}")
        body, inner = spec[kind], _subs(spec)
        _check_subs(name, kind, inner)
        parts = metric.parts(body, gate, inner)
        check_agg_keys(kind, body)
        for suffix, col in parts:
            yield name + suffix, col


def _metric_cols(sub_aggs: dict, prefix: str = "",
                 gate: Column | None = None) -> list[Column]:
    """One aliased aggregate Column per metric component: the columns
    every bucket frame and the top-level fused job carry, reassembled
    by :func:`_metric_envelope`."""
    return [c.alias(prefix + key) for key, c in _metric_parts(sub_aggs, gate)]


def _metric_envelope(row, sub_aggs: dict, prefix: str = "") -> dict:
    """The ES envelope of each metric sub-agg, read from the columns
    :func:`_metric_cols` named."""
    out = {}
    for name, spec in (sub_aggs or {}).items():
        kind = _agg_kind(spec)
        out[name] = _KINDS[kind].metric.read(
            row, prefix + name, spec[kind], _subs(spec))
    return out


def _gated(body, gate: Column | None) -> Column:
    """A metric's input column, restricted to the gate's rows."""
    src = _metric_source(body)
    return src if gate is None else F.when(gate, src)


def _read_value(row, p, body, _):
    return {"value": row[p]}


def _single(fn) -> _Metric:
    """A single-value metric: one column, ``{"value": v}``."""
    return _Metric(lambda body, gate, _: [("", fn(_gated(body, gate)))],
                   _read_value)


_STATS = (("count", F.count), ("min", F.min), ("max", F.max),
          ("avg", F.avg), ("sum", F.sum))


def _stats_parts(body, gate, _):
    src = _gated(body, gate)
    return [(f".{stat}", fn(src)) for stat, fn in _STATS]


def _stats_read(row, p, body, _):
    return {stat: row[f"{p}.{stat}"] for stat, _fn in _STATS}


def _percents(body) -> list[float]:
    return [float(x) for x in body.get("percents", _DEFAULT_PERCENTS)]


def _percentiles_parts(body, gate, _):
    # EXACT interpolated percentiles where ES runs t-digest — the same
    # exactness divergence as cardinality (strictly more accurate)
    src = _gated(body, gate)
    return [(f"%{p}", F.percentile(src, F.lit(p / 100.0)))
            for p in _percents(body)]


def _percentiles_read(row, p, body, _):
    return {"values": {str(x): row[f"{p}%{x}"] for x in _percents(body)}}


def _extended_stats_parts(body, gate, _):
    # mergeable components; the derived moments assemble at envelope
    # time from the SAME sum/sum-of-squares arithmetic ES accumulates
    src = _gated(body, gate)
    return [(".count", F.count(src)), (".min", F.min(src)),
            (".max", F.max(src)), (".sum", F.sum(src)),
            (".sumsq", F.sum(src * src))]


def _extended_stats_read(row, p, body, _):
    return _extended_stats_env(
        row[f"{p}.count"], row[f"{p}.min"], row[f"{p}.max"],
        row[f"{p}.sum"], row[f"{p}.sumsq"], float(body.get("sigma", 2.0)))


def _extended_stats_env(cnt, mn, mx, s, sq, sigma: float) -> dict:
    """The ES extended_stats envelope from count/min/max/sum/sum of
    squares — shared by the metric and extended_stats_bucket. ES's
    ``variance`` is the POPULATION variance, derived from the sums and
    clamped at 0 against floating-point cancellation."""
    env: dict[str, Any] = {
        "count": cnt, "min": mn, "max": mx,
        "sum": s if s is not None else 0, "sum_of_squares": sq,
        "avg": None, "variance": None, "variance_population": None,
        "variance_sampling": None, "std_deviation": None,
        "std_deviation_population": None, "std_deviation_sampling": None,
        "std_deviation_bounds": {
            "upper": None, "lower": None,
            "upper_population": None, "lower_population": None,
            "upper_sampling": None, "lower_sampling": None,
        },
    }
    if cnt:
        avg = s / cnt
        var_p = max(sq / cnt - avg * avg, 0.0)
        var_s = (max(sq - cnt * avg * avg, 0.0) / (cnt - 1)
                 if cnt > 1 else None)
        sd_p = var_p ** 0.5
        sd_s = var_s ** 0.5 if var_s is not None else None
        env.update({
            "avg": avg, "variance": var_p, "variance_population": var_p,
            "variance_sampling": var_s, "std_deviation": sd_p,
            "std_deviation_population": sd_p,
            "std_deviation_sampling": sd_s,
            "std_deviation_bounds": {
                "upper": avg + sigma * sd_p, "lower": avg - sigma * sd_p,
                "upper_population": avg + sigma * sd_p,
                "lower_population": avg - sigma * sd_p,
                "upper_sampling":
                    (avg + sigma * sd_s) if sd_s is not None else None,
                "lower_sampling":
                    (avg - sigma * sd_s) if sd_s is not None else None,
            },
        })
    return env


def _percentile_ranks_parts(body, gate, _):
    vals = body.get("values")
    if not isinstance(vals, list) or not vals:
        raise DslError("percentile_ranks needs a non-empty values list")
    # EXACT rank: share of non-null values <= v (ES interpolates a
    # t-digest — the cardinality/percentiles exactness divergence)
    src = _gated(body, gate)
    return [(f"<{float(v)}",
             F.sum(F.when(src <= F.lit(v), 1).otherwise(0)) * 100.0
             / F.count(src)) for v in vals]


def _percentile_ranks_read(row, p, body, _):
    return {"values": {str(float(v)): row[f"{p}<{float(v)}"]
                       for v in body.get("values", [])}}


def _missing_parts(body, gate, _):
    # docs whose field is null — ES's missing agg (no script form)
    if not isinstance(body, dict) or body.get("field") is None:
        raise DslError("missing aggregation requires a field")
    cond = F.col(body["field"]).isNull()
    return [("", _count_if(cond if gate is None else gate & cond))]


def _weighted_avg_parts(body, gate, _):
    # no top-level field: value/weight sub-objects; ES skips docs where
    # either side is (still) null after the missing substitutions
    v, w = body.get("value") or {}, body.get("weight") or {}
    if not (isinstance(v, dict) and v.get("field")
            and isinstance(w, dict) and w.get("field")):
        raise DslError("weighted_avg needs value.field and weight.field")
    vc, wc = _gated(v, gate), _gated(w, gate)
    both = vc.isNotNull() & wc.isNotNull()
    return [(".vw", F.sum(F.when(both, vc * wc))),
            (".w", F.sum(F.when(both, wc)))]


def _weighted_avg_read(row, p, body, _):
    w = row[f"{p}.w"]
    return {"value": (row[f"{p}.vw"] / w) if w else None}


def _scripted_metric_parts(body, gate, _):
    # the deterministic init/map/combine/reduce subset compiles to ONE
    # aggregate Column (plans/scripted_metric.py); its map script sees
    # every row, so it cannot be restricted to a filter's rows
    from sql_database_to_elastic_datalake_spark.plans.scripted_metric \
        import scripted_metric_column

    if gate is not None:
        raise DslError(
            "scripted_metric under a filter/filters aggregation is not "
            "supported (its map script cannot be gated)")
    return [("", scripted_metric_column(body))]


def _filter_parts(body, gate, inner):
    # a filter sub-agg with metric-only children rides the SAME job as
    # its parent: its doc count and children gated by its predicate
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import _ns

    pred = _ns(compile_dsl(body))
    if gate is not None:
        pred = gate & pred
    return [("|doc_count", _count_if(pred)),
            *((f"|{k}", c) for k, c in _metric_parts(inner, pred))]


def _filter_read(row, p, body, inner):
    return {"doc_count": row[f"{p}|doc_count"],
            **_metric_envelope(row, inner, f"{p}|")}


def bucket_key(kind: str, body: dict) -> Column:
    """The grouping expression for a bucket aggregation. A ``terms``
    ``missing`` value folds null keys into that bucket (ES's missing
    parameter) — downstream null-key exclusions then naturally keep
    those rows."""
    field = body.get("field")
    if field is None:
        raise DslError(f"{kind} aggregation requires a field")
    if kind == "terms":
        if body.get("missing") is not None:
            return F.coalesce(F.col(field), F.lit(body["missing"]))
        return F.col(field)
    if kind == "histogram":
        interval = body.get("interval")
        if not interval or interval <= 0:
            raise DslError("histogram requires a positive interval")
        off = body.get("offset", 0) or 0
        if off:
            # ES's numeric-histogram offset contract: [0, interval)
            if not (0 <= off < interval):
                raise DslError(
                    f"histogram offset must be in [0, {interval}) "
                    f"(got {off})"
                )
            return (
                F.floor((F.col(field) - F.lit(off)) / F.lit(interval))
                * F.lit(interval) + F.lit(off)
            )
        return (
            F.floor(F.col(field) / F.lit(interval)) * F.lit(interval)
        )
    if kind == "date_histogram":
        cal = body.get("calendar_interval")
        fixed = body.get("fixed_interval")
        tz = _check_time_zone(body.get("time_zone"))
        off = _parse_offset(body.get("offset"))
        # ES rounds in the time_zone's WALL CLOCK (Kibana attaches the
        # browser tz to every time chart), with `offset` shifting each
        # bucket's start: bucket_local = trunc(local − offset) + offset,
        # then back to the UTC instant. DST is honored by the tz db on
        # both shifts, so a 23-hour "day" truncates correctly. All four
        # shifts are pure column arithmetic — codegen'd, no UDF.
        local = F.from_utc_timestamp(F.col(field), tz) if tz \
            else F.col(field)
        if off:
            local = local - F.expr(f"INTERVAL {off} SECONDS")
        if cal is not None:
            unit = _CALENDAR_TRUNC.get(cal)
            if unit is None:
                raise DslError(f"unsupported calendar_interval {cal!r}")
            t = F.date_trunc(unit, local)
        elif fixed is not None:
            m = _FIXED_RE.match(str(fixed))
            if not m:
                raise DslError(f"unsupported fixed_interval {fixed!r}")
            secs = int(m.group(1)) * _FIXED_SECS[m.group(2)]
            if secs <= 0:
                raise DslError(f"unsupported fixed_interval {fixed!r}")
            t = F.timestamp_seconds(
                F.floor(F.unix_timestamp(local) / F.lit(secs))
                * F.lit(secs)
            )
        else:
            raise DslError(
                "date_histogram requires calendar_interval or "
                "fixed_interval"
            )
        if off:
            t = t + F.expr(f"INTERVAL {off} SECONDS")
        return F.to_utc_timestamp(t, tz) if tz else t
    raise DslError(f"unsupported bucket aggregation kind {kind!r}")


def _terms_order(body: dict, sub_aggs: dict | None) -> list[Column]:
    """The ``terms`` ``order`` spec → sort Columns over the flat bucket
    frame. ES targets: ``_count``, ``_key`` (also the legacy
    ``_term``), a single-value metric sub-agg by name, or a stats
    sub-path (``name.avg``). A deterministic key tie-break is always
    appended (the same determinism divergence as the default
    ordering)."""
    spec = body.get("order", {"_count": "desc"})
    specs = [spec] if isinstance(spec, dict) else list(spec)
    cols: list[Column] = []
    for s in specs:
        if not isinstance(s, dict) or len(s) != 1:
            raise DslError(f"malformed terms order clause {s!r}")
        target, direction = next(iter(s.items()))
        if direction not in ("asc", "desc"):
            raise DslError(f"unknown terms order direction {direction!r}")
        if target == "_count":
            c = F.col("doc_count")
        elif target in ("_key", "_term"):
            c = F.col("key")
        else:
            base, _, stat = str(target).partition(".")
            if base not in (sub_aggs or {}):
                raise DslError(
                    f"terms order references unknown sub-agg {target!r}")
            kind = _agg_kind(sub_aggs[base])
            if kind is None:
                raise DslError(
                    f"malformed sub-agg spec for terms order {target!r}")
            if kind == "stats":
                if stat not in dict(_STATS):
                    raise DslError(
                        f"unknown stats path in terms order {target!r}")
                c = F.col(f"`{base}.{stat}`")
            elif kind in _METRICS or kind == "scripted_metric":
                c = F.col(base)
            else:
                raise DslError(
                    f"cannot order terms by a {kind} sub-agg ({base!r})")
        cols.append(c.desc() if direction == "desc" else c.asc())
    cols.append(F.col("key").asc())
    return cols


def _partition_spec(which: str, spec: dict) -> tuple[int, int]:
    """Validate ES's partition form ``{"partition": p,
    "num_partitions": n}`` (the high-cardinality terms pager)."""
    if which != "include":
        raise DslError("terms exclude does not take a partition form")
    unknown = sorted(set(spec) - {"partition", "num_partitions"})
    if unknown:
        raise DslError(f"unsupported include partition keys: {unknown}")
    p, n = spec.get("partition"), spec.get("num_partitions")
    for nm, v in (("partition", p), ("num_partitions", n)):
        if not isinstance(v, int) or isinstance(v, bool) or v < 0:
            raise DslError(
                f"include {nm} must be a non-negative integer")
    if n < 1 or p >= n:
        raise DslError(
            "include partition must be < num_partitions (>= 1)")
    return p, n


def _include_exclude_pred(key: Column, body: dict) -> Column | None:
    """ES ``terms`` ``include``/``exclude`` (Kibana's bucket
    filtering): exact-value lists (``isin``) or whole-value-anchored
    regex strings (Lucene semantics), applied to the BUCKET KEY before
    ordering/truncation so ``size`` picks among the surviving terms.

    The partition form ``{"partition": p, "num_partitions": n}``
    — Kibana's high-cardinality pager — keeps keys whose md5 bucket is
    p (the engine's deterministic-hash convention). DOCUMENTED
    DIVERGENCE: ES partitions on its own term hash, so WHICH keys land
    in partition p differs — the contract that holds (and the one
    clients rely on) is each key in exactly one partition, stable
    across requests."""
    pred: Column | None = None
    for which, positive in (("include", True), ("exclude", False)):
        spec = body.get(which)
        if spec is None:
            continue
        if isinstance(spec, dict):
            p, n = _partition_spec(which, spec)
            pk = (F.conv(F.substring(F.md5(key.cast("string")), 1, 8),
                         16, 10).cast("bigint") % F.lit(n)) == F.lit(p)
            pred = pk if pred is None else (pred & pk)
            continue
        if isinstance(spec, list):
            p = key.isin(list(spec))
        else:
            p = key.cast("string").rlike(f"^(?:{spec})$")
        if not positive:
            p = ~F.coalesce(p, F.lit(False))
        pred = p if pred is None else (pred & p)
    return pred


def _include_exclude_py(k, body: dict) -> bool:
    """Driver-side mirror of :func:`_include_exclude_pred` for the
    nested-chain assembly (terms levels filter in memory — a row-level
    filter would wrongly shrink parent doc_counts)."""
    for which, positive in (("include", True), ("exclude", False)):
        spec = body.get(which)
        if spec is None:
            continue
        if isinstance(spec, dict):
            import hashlib

            p, n = _partition_spec(which, spec)
            b = int(hashlib.md5(
                str(k).encode()).hexdigest()[:8], 16) % n
            hit = b == p
        elif isinstance(spec, list):
            hit = k in spec
        else:
            hit = re.fullmatch(spec, str(k)) is not None
        if hit != positive:
            return False
    return True


def terms_frame(
    df: DataFrame, body: dict, sub_aggs: dict | None = None
) -> DataFrame:
    """Flat bucket rows for a ``terms`` agg: ``key, doc_count`` +
    one column per metric sub-agg, ordered per the ES ``order`` spec
    (default count-desc) with a key tie-break, limited to ``size``
    (TakeOrdered — never a full key-domain collect). ES's ``missing``
    parameter folds null keys into a named bucket (via
    :func:`bucket_key`); ``min_doc_count`` drops small buckets BEFORE
    the TakeOrdered."""
    size = _size(body, 10, "terms")
    min_dc = int(body.get("min_doc_count", 1))
    key = bucket_key("terms", body)
    src = df.filter(key.isNotNull())
    ie = _include_exclude_pred(key, body)
    if ie is not None:
        # row-level: the filter reaches the scan (an isin include is a
        # PushedFilter) and the shuffle only carries surviving terms
        src = src.filter(ie)
    out = (
        src.groupBy(key.alias("key"))
        .agg(F.count(F.lit(1)).alias("doc_count"),
             *_metric_cols(sub_aggs))
    )
    if min_dc > 1:
        out = out.filter(F.col("doc_count") >= min_dc)
    return out.orderBy(*_terms_order(body, sub_aggs)).limit(size)


#: calendar_interval unit -> the sequence() step expression
_CALENDAR_STEP = {
    "second": "interval 1 second", "minute": "interval 1 minute",
    "hour": "interval 1 hour", "day": "interval 1 day",
    "week": "interval 7 days", "month": "interval 1 month",
    "quarter": "interval 3 months", "year": "interval 1 year",
}


def _histogram_step(kind: str, body: dict):
    """The bucket-to-bucket step for gap filling, as a Column."""
    if kind == "date_histogram":
        cal = body.get("calendar_interval")
        if cal is not None:
            unit = _CALENDAR_TRUNC.get(cal)
            return F.expr(_CALENDAR_STEP[unit])
        m = _FIXED_RE.match(str(body.get("fixed_interval")))
        secs = int(m.group(1)) * _FIXED_SECS[m.group(2)]
        if secs != int(secs) or secs < 1:
            raise DslError(
                "min_doc_count: 0 needs a whole-second fixed_interval")
        return F.expr(f"interval {int(secs)} seconds")
    interval = body.get("interval")
    if interval != int(interval):
        raise DslError(
            "min_doc_count: 0 on a numeric histogram needs an integer "
            "interval (fractional steps don't enumerate exactly)"
        )
    return None  # numeric: sequence over longs, step = interval


def histogram_frame(
    df: DataFrame, kind: str, body: dict, sub_aggs: dict | None = None
) -> DataFrame:
    """Flat bucket rows for ``histogram``/``date_histogram``: key-asc.

    ``min_doc_count`` defaults to 1 here (empty buckets omitted);
    ``min_doc_count: 0`` restores ES's date_histogram default —
    gap-filled zero buckets over the observed key range, widened by
    ``extended_bounds`` (``{"min": …, "max": …}``, bucket-truncated
    like ES). The dense key sequence derives IN-PLAN from the grouped
    frame's min/max (a bucket-count-sized input), left-joined back —
    no driver round trip; empty buckets carry doc_count 0 and null
    metrics, exactly ES's envelope."""
    key = bucket_key(kind, body)
    min_dc = int(body.get("min_doc_count", 1))
    grouped = (
        df.filter(key.isNotNull())
        .groupBy(key.alias("key"))
        .agg(F.count(F.lit(1)).alias("doc_count"),
             *_metric_cols(sub_aggs))
    )
    if min_dc != 0:
        return grouped.orderBy(F.col("key").asc())
    step = _histogram_step(kind, body)
    ext = body.get("extended_bounds") or {}
    b = grouped.agg(F.min("key").alias("mn"), F.max("key").alias("mx"))
    if ext:
        if kind == "date_histogram":
            mn_l = _after_lit(kind, ext.get("min")) if "min" in ext else None
            mx_l = _after_lit(kind, ext.get("max")) if "max" in ext else None
        else:
            mn_l = F.lit(ext["min"]) if "min" in ext else None
            mx_l = F.lit(ext["max"]) if "max" in ext else None
        # truncate literal bounds to their bucket via a renamed
        # single-column frame through the same bucket expression
        def trunc_lit(lit_col):
            one = grouped.sparkSession.range(1).select(
                lit_col.alias(body["field"]))
            return one.select(
                bucket_key(kind, body).alias("v")).collect()[0]["v"]

        if mn_l is not None:
            v = trunc_lit(mn_l)
            b = b.select(
                F.coalesce(F.least("mn", F.lit(v)), F.lit(v)).alias("mn"),
                "mx")
        if mx_l is not None:
            v = trunc_lit(mx_l)
            b = b.select(
                "mn",
                F.coalesce(F.greatest("mx", F.lit(v)), F.lit(v)).alias("mx"))
    if step is not None:
        tz = _check_time_zone(body.get("time_zone")) \
            if kind == "date_histogram" else None
        off = _parse_offset(body.get("offset")) \
            if kind == "date_histogram" else 0
        if tz or off:
            # enumerate the dense sequence in LOCAL wall-clock space
            # (where buckets are uniform even across DST — a NY "day"
            # is 23 UTC hours on the spring-forward date), then map
            # each wall value back to its UTC instant
            def _to_local(c):
                c = F.from_utc_timestamp(c, tz) if tz else c
                return c - F.expr(f"INTERVAL {off} SECONDS") if off else c

            def _to_instant(c):
                c = c + F.expr(f"INTERVAL {off} SECONDS") if off else c
                return F.to_utc_timestamp(c, tz) if tz else c

            full = (
                b.filter(F.col("mn").isNotNull())
                .select(F.explode(F.sequence(
                    _to_local(F.col("mn")), _to_local(F.col("mx")), step))
                    .alias("__lk"))
                .select(_to_instant(F.col("__lk")).alias("key"))
            )
        else:
            full = b.filter(F.col("mn").isNotNull()).select(
                F.explode(F.sequence(F.col("mn"), F.col("mx"), step))
                .alias("key"))
    else:
        iv = int(body["interval"])
        noff = body.get("offset", 0) or 0
        key_type = grouped.schema["key"].dataType
        full = b.filter(F.col("mn").isNotNull()).select(
            F.explode(F.sequence(
                ((F.col("mn") - F.lit(noff)) / iv).cast("long"),
                ((F.col("mx") - F.lit(noff)) / iv).cast("long"),
            )).alias("__i")
        ).select((F.col("__i") * iv + F.lit(noff)).cast(key_type)
                 .alias("key"))
    return (
        full.join(grouped, "key", "left")
        .withColumn("doc_count",
                    F.coalesce(F.col("doc_count"), F.lit(0)))
        .orderBy(F.col("key").asc())
    )


def multi_terms_frame(
    df: DataFrame, body: dict, sub_aggs: dict | None = None
) -> DataFrame:
    """Flat bucket rows for a ``multi_terms`` agg (Kibana Lens's
    "top values of multiple fields"): one groupBy on the key tuple —
    the exact shape of a single-field terms agg, same one shuffle +
    TakeOrdered(size). Key columns come back as ``k0..kn``; docs
    missing ANY key field are excluded unless that term spec carries
    ``missing`` (ES's contract)."""
    specs = body.get("terms")
    if not isinstance(specs, list) or len(specs) < 2:
        raise DslError(
            "multi_terms requires a `terms` list of two or more "
            "{field} entries"
        )
    keys: list[Column] = []
    for i, s in enumerate(specs):
        if not isinstance(s, dict) or not s.get("field"):
            raise DslError("each multi_terms term needs a field")
        unknown = sorted(set(s) - {"field", "missing"})
        if unknown:
            raise DslError(
                f"unsupported multi_terms term options: {unknown}")
        c = F.col(s["field"])
        if s.get("missing") is not None:
            c = F.coalesce(c, F.lit(s["missing"]))
        keys.append(c.alias(f"k{i}"))
    size = _size(body, 10, "multi_terms")
    min_dc = int(body.get("min_doc_count", 1))
    pred = F.lit(True)
    for k in keys:
        pred = pred & k.isNotNull()
    src = df.filter(pred)
    out = src.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("doc_count"), *_metric_cols(sub_aggs))
    if min_dc > 1:
        out = out.filter(F.col("doc_count") >= min_dc)
    # order: count-desc with the key tuple as tie-break (ES's default;
    # _key order sorts the tuple lexicographically)
    order = body.get("order")
    knames = [f"k{i}" for i in range(len(keys))]
    if order is None:
        cols = [F.col("doc_count").desc(), *[F.col(k).asc()
                                             for k in knames]]
    else:
        if not (isinstance(order, dict) and len(order) == 1):
            raise DslError("multi_terms order must be a single-entry "
                           "object")
        tgt, direction = next(iter(order.items()))
        if direction not in ("asc", "desc"):
            raise DslError(f"unknown order direction {direction!r}")
        if tgt == "_count":
            lead = F.col("doc_count")
        elif tgt == "_key":
            lead = None
        else:
            raise DslError(
                "multi_terms order supports _count/_key (metric "
                "ordering is a terms-agg feature here)"
            )
        keydir = [(F.col(k).desc() if (lead is None
                                       and direction == "desc")
                   else F.col(k).asc()) for k in knames]
        cols = keydir if lead is None else [
            lead.desc() if direction == "desc" else lead.asc(),
            *keydir]
    return out.orderBy(*cols).limit(size)


#: the rare_terms bucket-count driver bound: exact long-tail queries
#: can legitimately return many buckets; past this the request must
#: narrow (named error, never a silent truncation or a driver OOM)
_RARE_TERMS_BUDGET = 100_000

#: sampler/diversified_sampler shard_size bound: the sample is
#: materialized driver-side (one collect), which is the agg's whole
#: point — a sample past this must narrow (named error)
_SAMPLER_BUDGET = 100_000


def rare_terms_frame(df: DataFrame, body: dict) -> DataFrame:
    """Flat bucket rows for ``rare_terms`` (the long-tail panel):
    terms whose doc_count <= ``max_doc_count``, count-ascending.
    One groupBy; the HAVING-style filter prunes before the sort.
    EXACT where ES approximates with a CuckooFilter (documented
    divergence — strictly more accurate; ``precision`` is
    accepted-and-ignored). Deterministic key tie-break (ES leaves
    ties unspecified)."""
    if not body.get("field"):
        raise DslError("rare_terms requires a field")
    mdc = int(body.get("max_doc_count", 1))
    if mdc < 1:
        raise DslError("rare_terms max_doc_count must be >= 1")
    key = bucket_key("terms", body)  # honors `missing`
    src = df.filter(key.isNotNull())
    ie = _include_exclude_pred(key, body)
    if ie is not None:
        src = src.filter(ie)
    return (
        src.groupBy(key.alias("key"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .filter(F.col("doc_count") <= mdc)
        .orderBy(F.col("doc_count").asc(), F.col("key").asc())
    )


def string_stats_frame(df: DataFrame, body) -> DataFrame:
    """Flat rows for ``string_stats``: one row per distinct
    character — ``ch, n, prob`` — with the length statistics
    (``cnt, min_length, max_length, avg_length``) broadcast onto every
    row (the hits_envelope totals pattern). The entropy ES serves is
    derived from exactly these probabilities driver-side
    (:func:`_string_stats_envelope`) — the oracle pins the
    distribution, keeping libm's log out of the exact-match gate.

    Plan: the length stats are a 1-row aggregate; the character
    distribution explodes string OFFSETS and substrs per row (the
    char_trigram_profile idiom — stays in whole-stage codegen, unlike
    a transform() lambda) into one groupBy bounded by the alphabet.
    Top-level only: under a bucket agg the per-bucket explode would
    hide a corpus-sized shuffle, so that is a named 400, not a slow
    path."""
    check_agg_keys("string_stats", body)
    if not isinstance(body, dict) or not body.get("field"):
        raise DslError("string_stats requires a field")
    c = F.col(body["field"]).cast("string")
    if body.get("missing") is not None:
        c = F.coalesce(c, F.lit(str(body["missing"])))
    s = df.select(c.alias("__s")).filter(F.col("__s").isNotNull())
    lens = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.min(F.length("__s")).cast("bigint").alias("min_length"),
        F.max(F.length("__s")).cast("bigint").alias("max_length"),
        F.sum(F.length("__s")).cast("bigint").alias("__sum_len"),
    )
    chars = (
        s.filter(F.length("__s") > 0)
        .select(
            F.col("__s"),
            F.explode(
                F.sequence(F.lit(1), F.length("__s"))).alias("__i"),
        )
        .select(F.col("__s").substr(F.col("__i"), F.lit(1)).alias("ch"))
        .groupBy("ch")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return (
        chars.crossJoin(F.broadcast(lens))
        .select(
            "ch", "n",
            (F.col("n").cast("double")
             / F.col("__sum_len").cast("double")).alias("prob"),
            "cnt", "min_length", "max_length",
            (F.col("__sum_len").cast("double")
             / F.col("cnt").cast("double")).alias("avg_length"),
        )
    )


def boxplot_frame(df: DataFrame, body) -> DataFrame:
    """One-row frame for ``boxplot``: ``min, max, q1, q2, q3``
    (exact interpolated quantiles — ES approximates with TDigest, the
    same exactness divergence as percentiles) plus the Tukey whiskers
    ``lower``/``upper`` — the nearest values inside
    ``[q1 − 1.5·IQR, q3 + 1.5·IQR]``, exactly as ES defines them.

    Whiskers compare every value against the quantiles, so the plan is
    one aggregate broadcast back over a second scan (crossJoin with
    the 1-row stats frame) — two scans, zero driver round-trips, no
    collect; at scale both scans prune to the single metric column."""
    check_agg_keys("boxplot", body)
    src = _metric_source(body)
    s = df.select(src.cast("double").alias("__v")) \
        .filter(F.col("__v").isNotNull())
    q = s.agg(
        F.min("__v").alias("min"), F.max("__v").alias("max"),
        F.percentile(F.col("__v"), F.lit(0.25)).alias("q1"),
        F.percentile(F.col("__v"), F.lit(0.5)).alias("q2"),
        F.percentile(F.col("__v"), F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    lo_fence = F.col("q1") - iqr * F.lit(1.5)
    hi_fence = F.col("q3") + iqr * F.lit(1.5)
    return s.crossJoin(F.broadcast(q)).agg(
        F.first("min").alias("min"), F.first("max").alias("max"),
        F.first("q1").alias("q1"), F.first("q2").alias("q2"),
        F.first("q3").alias("q3"),
        F.min(F.when(F.col("__v") >= lo_fence, F.col("__v")))
        .alias("lower"),
        F.max(F.when(F.col("__v") <= hi_fence, F.col("__v")))
        .alias("upper"),
    )


def t_test_frame(df: DataFrame, body) -> DataFrame:
    """One-row frame for ``t_test``: group moments and the
    t-statistic, all Spark column algebra in ONE conditional-aggregate
    pass (no per-group scans — ES evaluates both filters per shard the
    same way).

    Unpaired (``heteroscedastic`` Welch — ES's default — or
    ``homoscedastic`` pooled): each group is a ``filter``-scoped view
    of its ``field``; moments accumulate behind ``when(pred, x)``.
    ``paired``: both fields on the same row, differences where both
    are present; ES rejects filters there and so does this.

    The frame pins ``n / mean / var`` per group plus ``t_stat`` and
    ``df_deg`` in FIXED operation order (the extended_stats
    convention); the served p-value derives from (t, df) driver-side
    through the regularized incomplete beta (:func:`_t_test_envelope`)
    — a pure function of oracled inputs, like string_stats' entropy."""
    check_agg_keys("t_test", body)
    ttype = body.get("type", "heteroscedastic")
    if ttype not in ("paired", "homoscedastic", "heteroscedastic"):
        raise DslError(f"unknown t_test type {ttype!r}")
    a, b = body.get("a"), body.get("b")
    if not (isinstance(a, dict) and isinstance(b, dict)
            and a.get("field") and b.get("field")):
        raise DslError("t_test requires a.field and b.field")

    if ttype == "paired":
        if a.get("filter") or b.get("filter"):
            raise DslError(
                "paired t_test cannot take per-group filters (ES "
                "pairs values by document)")
        xa = F.col(a["field"]).cast("double")
        xb = F.col(b["field"]).cast("double")
        d = F.when(xa.isNotNull() & xb.isNotNull(), xa - xb)
        n = F.count(d).cast("bigint")
        s = F.sum(d)
        sq = F.sum(d * d)
        agg = df.agg(n.alias("n"), s.alias("s"), sq.alias("sq"))
        nn = F.col("n").cast("double")
        mean = F.col("s") / nn
        var = (F.col("sq") - F.col("s") * F.col("s") / nn) \
            / (nn - F.lit(1.0))
        t = mean / F.sqrt(var / nn)
        return agg.select(
            F.col("n"),
            F.when(F.col("n") >= 1, mean).alias("mean_diff"),
            F.when(F.col("n") >= 2, var).alias("var_diff"),
            F.when((F.col("n") >= 2) & (var > 0), t).alias("t_stat"),
            F.when(F.col("n") >= 2, nn - F.lit(1.0)).alias("df_deg"),
        )

    def group(spec, tag):
        x = F.col(spec["field"]).cast("double")
        flt = spec.get("filter")
        if flt is not None:
            pred = compile_dsl(flt, schema_fields=list(df.columns))
            x = F.when(pred, x)
        return [
            F.count(x).cast("bigint").alias(f"n{tag}"),
            F.sum(x).alias(f"s{tag}"),
            F.sum(x * x).alias(f"sq{tag}"),
        ]

    agg = df.agg(*group(a, "a"), *group(b, "b"))
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    ma = F.col("sa") / na
    mb = F.col("sb") / nb
    va = (F.col("sqa") - F.col("sa") * F.col("sa") / na) \
        / (na - F.lit(1.0))
    vb = (F.col("sqb") - F.col("sb") * F.col("sb") / nb) \
        / (nb - F.lit(1.0))
    if ttype == "homoscedastic":
        dfree = na + nb - F.lit(2.0)
        sp2 = ((na - F.lit(1.0)) * va + (nb - F.lit(1.0)) * vb) / dfree
        t = (ma - mb) / F.sqrt(sp2 * (F.lit(1.0) / na
                                      + F.lit(1.0) / nb))
    else:  # heteroscedastic: Welch, with Welch-Satterthwaite df
        se2 = va / na + vb / nb
        t = (ma - mb) / F.sqrt(se2)
        dfree = (se2 * se2) / (
            (va / na) * (va / na) / (na - F.lit(1.0))
            + (vb / nb) * (vb / nb) / (nb - F.lit(1.0))
        )
    ok = (F.col("na") >= 2) & (F.col("nb") >= 2)
    return agg.select(
        F.col("na"), F.col("nb"),
        F.when(F.col("na") >= 1, ma).alias("mean_a"),
        F.when(F.col("nb") >= 1, mb).alias("mean_b"),
        F.when(F.col("na") >= 2, va).alias("var_a"),
        F.when(F.col("nb") >= 2, vb).alias("var_b"),
        F.when(ok, t).alias("t_stat"),
        F.when(ok, dfree).alias("df_deg"),
    )


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction for the regularized incomplete beta
    (modified Lentz iteration — the standard public algorithm)."""
    eps, fpmin = 3e-16, 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < fpmin:
        d = fpmin
    d = 1.0 / d
    h = d
    for m in range(1, 300):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < fpmin:
            d = fpmin
        c = 1.0 + aa / c
        if abs(c) < fpmin:
            c = fpmin
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < fpmin:
            d = fpmin
        c = 1.0 + aa / c
        if abs(c) < fpmin:
            c = fpmin
        d = 1.0 / d
        de = d * c
        h *= de
        if abs(de - 1.0) < eps:
            break
    return h


def _reg_inc_beta(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b)."""
    import math

    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_front = (math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                + a * math.log(x) + b * math.log(1.0 - x))
    front = math.exp(ln_front)
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def _t_test_envelope(df: DataFrame, body) -> dict:
    """The ES ``t_test`` response: ``{"value": p}`` — the two-sided
    p-value, p = I_{df/(df+t²)}(df/2, ½), derived driver-side from
    the oracled (t, df) pair."""
    r = t_test_frame(df, body).collect()[0]
    t, dfree = r["t_stat"], r["df_deg"]
    if t is None or dfree is None or dfree <= 0:
        return {"value": None}
    x = dfree / (dfree + t * t)
    return {"value": _reg_inc_beta(dfree / 2.0, 0.5, x)}


def _matrix_fields(body) -> list[str]:
    fields = body.get("fields")
    if not isinstance(fields, list) or len(fields) < 2:
        raise DslError("matrix_stats requires a fields list (>= 2)")
    if len(set(fields)) != len(fields):
        raise DslError("matrix_stats fields must be distinct")
    return [str(f) for f in fields]


def _matrix_source(df: DataFrame, body) -> tuple[DataFrame, list[str]]:
    """Listwise-complete projection: per-field ``missing``
    substitution, then drop rows lacking any field — ES's document
    inclusion rule for matrix_stats."""
    fields = _matrix_fields(body)
    missing = body.get("missing") or {}
    cols = []
    for f in fields:
        c = F.col(f).cast("double")
        if f in missing:
            c = F.coalesce(c, F.lit(float(missing[f])))
        cols.append(c.alias(f))
    s = df.select(*cols)
    pred = None
    for f in fields:
        nn = F.col(f).isNotNull()
        pred = nn if pred is None else (pred & nn)
    return s.filter(pred), fields


def matrix_stats_frame(df: DataFrame, body) -> DataFrame:
    """One-row frame for ``matrix_stats``: doc_count, per-field
    mean/variance and the upper-triangle covariance + correlation
    matrix, derived from raw moment sums (n, Σx, Σx², Σxy) in FIXED
    operation order — ONE conditional-aggregate pass over the listwise-
    complete rows, K·(K+3)/2 accumulators, no extra scan per pair.

    Sample (n−1) covariance/variance like ES; correlation cancels the
    factor: (Σxy − ΣxΣy/n) / √((Σx²−(Σx)²/n)(Σy²−(Σy)²/n)). Skewness
    and kurtosis are served by the envelope only
    (:func:`_matrix_stats_envelope`) — the higher-power sums fall out
    of double-exactness for wide-magnitude fields, the same argument
    that keeps softmax out of normalize's oracle."""
    check_agg_keys("matrix_stats", body)
    s, fields = _matrix_source(df, body)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("doc_count")]
    for f in fields:
        aggs.append(F.sum(F.col(f)).alias(f"__s_{f}"))
        aggs.append(F.sum(F.col(f) * F.col(f)).alias(f"__sq_{f}"))
    for i, f in enumerate(fields):
        for g in fields[i + 1:]:
            aggs.append(
                F.sum(F.col(f) * F.col(g)).alias(f"__sp_{f}_{g}"))
    agg = s.agg(*aggs)
    n = F.col("doc_count").cast("double")
    out = [F.col("doc_count")]
    css = {}
    for f in fields:
        sx, sqx = F.col(f"__s_{f}"), F.col(f"__sq_{f}")
        css[f] = sqx - sx * sx / n  # centered sum of squares
        out.append((sx / n).alias(f"mean_{f}"))
        out.append((css[f] / (n - F.lit(1.0))).alias(f"var_{f}"))
    for i, f in enumerate(fields):
        for g in fields[i + 1:]:
            sxy = F.col(f"__sp_{f}_{g}")
            cross = sxy - F.col(f"__s_{f}") * F.col(f"__s_{g}") / n
            out.append(
                (cross / (n - F.lit(1.0))).alias(f"cov_{f}_{g}"))
            out.append(
                (cross / F.sqrt(css[f] * css[g]))
                .alias(f"corr_{f}_{g}"))
    return agg.select(*out)


def _geo_line_envelope(df: DataFrame, body,
                       schema_fields=None) -> dict:
    """The ES ``geo_line`` response: a GeoJSON Feature whose
    LineString connects each doc's point in ``sort``-field order —
    the vessel-track / GPS-trail aggregation. The transfer is bounded
    IN-PLAN: ``orderBy(sort).limit(size + 1)`` compiles
    to TakeOrderedAndProject — per-partition top-k then a driver merge
    of ≤ size+1 rows per partition — so a large corpus never
    concentrates every point into one aggregation row. Docs missing
    the point or the sort value are excluded (ES requires both);
    ``size`` (ES cap 10000) keeps the first points in sort order, the
    size+1 sentinel row sets ``properties.complete`` false, like ES."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        _geo_field_cols,
    )

    point = body.get("point")
    sort = body.get("sort")
    if not (isinstance(point, dict) and point.get("field")):
        raise DslError("geo_line requires point.field")
    if not (isinstance(sort, dict) and sort.get("field")):
        raise DslError("geo_line requires sort.field")
    order = str(body.get("sort_order", "asc")).lower()
    if order not in ("asc", "desc"):
        raise DslError(f"unknown geo_line sort_order {order!r}")
    # ES's cap — it bounds the driver transfer here too
    size = _size(body, 10000, "geo_line", lo=1, hi=10000)
    include_sort = body.get("include_sort", False)
    if not isinstance(include_sort, bool):
        raise DslError("geo_line include_sort must be a boolean")
    lat_c, lon_c = _geo_field_cols(
        point["field"], F.col, schema_fields or df.columns,
        schema=df.schema)
    sort_c = F.col(str(sort["field"]))
    ok = lat_c.isNotNull() & lon_c.isNotNull() & sort_c.isNotNull()
    pts = (
        df.filter(ok)
        .select(sort_c.alias("s"),
                lon_c.cast("double").alias("lon"),
                lat_c.cast("double").alias("lat"))
        .orderBy(F.col("s").asc() if order == "asc"
                 else F.col("s").desc())
        .limit(size + 1)
        .collect()
    )
    complete = len(pts) <= size
    pts = pts[:size]
    out: dict[str, Any] = {
        "type": "Feature",
        "geometry": {
            "type": "LineString",
            "coordinates": [[p["lon"], p["lat"]] for p in pts],
        },
        "properties": {"complete": complete},
    }
    if include_sort:
        sv = [p["s"] for p in pts]
        out["properties"]["sort_values"] = [
            _key_envelope(v) for v in sv]
    return out


def _geo_bounds_envelope(df: DataFrame, body,
                         schema_fields=None) -> dict:
    """The ES ``geo_bounds`` response: the smallest lat/lon envelope
    holding every point. ES's GeoBoundsAggregator tracks SIX running
    extremes (top, bottom, and the positive/negative longitude
    edges) so the dateline-crossing box is a closed-form CHOICE at
    result time — restated here as six conditional aggregates in one
    ``df.agg`` job, the wrap decision on the driver. With
    ``wrap_longitude: false`` (or no pos/neg split) it degrades to
    plain min/max, matching ES."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        _geo_field_cols,
    )

    field = body.get("field")
    if not field:
        raise DslError("geo_bounds requires a field")
    wrap = body.get("wrap_longitude", True)
    if not isinstance(wrap, bool):
        raise DslError("geo_bounds wrap_longitude must be a boolean")
    lat_c, lon_c = _geo_field_cols(
        field, F.col, schema_fields or df.columns, schema=df.schema)
    ok = lat_c.isNotNull() & lon_c.isNotNull()
    pos = ok & (lon_c >= 0)
    neg = ok & (lon_c < 0)
    r = df.agg(
        F.max(F.when(ok, lat_c)).alias("top"),
        F.min(F.when(ok, lat_c)).alias("bottom"),
        F.min(F.when(pos, lon_c)).alias("pos_left"),
        F.max(F.when(pos, lon_c)).alias("pos_right"),
        F.min(F.when(neg, lon_c)).alias("neg_left"),
        F.max(F.when(neg, lon_c)).alias("neg_right"),
    ).collect()[0]
    if r["top"] is None:
        return {}  # ES omits bounds when no docs carry the field
    if r["pos_left"] is None:
        left, right = r["neg_left"], r["neg_right"]
    elif r["neg_left"] is None:
        left, right = r["pos_left"], r["pos_right"]
    else:
        unwrapped = r["pos_right"] - r["neg_left"]
        wrapped = 360.0 - (r["pos_left"] - r["neg_right"])
        if wrap and wrapped < unwrapped:
            left, right = r["pos_left"], r["neg_right"]
        else:
            left, right = r["neg_left"], r["pos_right"]
    return {"bounds": {
        "top_left": {"lat": float(r["top"]), "lon": float(left)},
        "bottom_right": {"lat": float(r["bottom"]),
                         "lon": float(right)},
    }}


def _geo_centroid_envelope(df: DataFrame, body,
                           schema_fields=None) -> dict:
    """The ES ``geo_centroid`` response: arithmetic mean of lat/lon
    over docs carrying the field, plus the contributing count — one
    ``df.agg`` job. (ES averages the raw coordinates too; its only
    twist is encoding loss through the spatial index, a documented
    divergence we don't replicate.)"""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        _geo_field_cols,
    )

    field = body.get("field")
    if not field:
        raise DslError("geo_centroid requires a field")
    lat_c, lon_c = _geo_field_cols(
        field, F.col, schema_fields or df.columns, schema=df.schema)
    ok = lat_c.isNotNull() & lon_c.isNotNull()
    r = df.agg(
        F.avg(F.when(ok, lat_c)).alias("lat"),
        F.avg(F.when(ok, lon_c)).alias("lon"),
        F.count(F.when(ok, F.lit(1))).alias("n"),
    ).collect()[0]
    if not r["n"]:
        return {"count": 0}  # ES omits location on an empty scope
    return {"location": {"lat": float(r["lat"]),
                         "lon": float(r["lon"])},
            "count": int(r["n"])}


def _matrix_stats_envelope(df: DataFrame, body) -> dict:
    """The ES ``matrix_stats`` response object: per-field count/mean/
    variance/skewness/kurtosis plus full (symmetric) covariance and
    correlation maps. One extra aggregate pass adds the Σx³/Σx⁴ sums
    the central moments need; skewness = m₃/m₂^1.5 and kurtosis =
    m₄/m₂² (plain, normal = 3) derive driver-side."""
    row = matrix_stats_frame(df, body).collect()[0]
    s, fields = _matrix_source(df, body)
    n = int(row["doc_count"])
    if n == 0:
        return {"doc_count": 0, "fields": []}
    hi = s.agg(*(
        [F.sum(F.col(f)).alias(f"s_{f}") for f in fields]
        + [F.sum(F.col(f) * F.col(f)).alias(f"sq_{f}")
           for f in fields]
        + [F.sum(F.col(f) * F.col(f) * F.col(f)).alias(f"c3_{f}")
           for f in fields]
        + [F.sum(F.col(f) * F.col(f) * F.col(f) * F.col(f))
           .alias(f"c4_{f}") for f in fields]
    )).collect()[0]
    out_fields = []
    for f in fields:
        mu = hi[f"s_{f}"] / n
        m2 = hi[f"sq_{f}"] / n - mu * mu
        m3 = (hi[f"c3_{f}"] - 3.0 * mu * hi[f"sq_{f}"]
              + 2.0 * n * mu ** 3) / n
        m4 = (hi[f"c4_{f}"] - 4.0 * mu * hi[f"c3_{f}"]
              + 6.0 * mu * mu * hi[f"sq_{f}"] - 3.0 * n * mu ** 4) / n
        cov = {}
        corr = {}
        for g in fields:
            if g == f:
                cov[g] = row[f"var_{f}"]
                corr[g] = 1.0
            else:
                a, b = (f, g) if fields.index(f) < fields.index(g) \
                    else (g, f)
                cov[g] = row[f"cov_{a}_{b}"]
                corr[g] = row[f"corr_{a}_{b}"]
        out_fields.append({
            "name": f, "count": n, "mean": mu,
            "variance": row[f"var_{f}"],
            "skewness": (m3 / m2 ** 1.5) if m2 > 0 else 0.0,
            "kurtosis": (m4 / (m2 * m2)) if m2 > 0 else 0.0,
            "covariance": cov, "correlation": corr,
        })
    return {"doc_count": n, "fields": out_fields}


def _string_stats_envelope(df: DataFrame, body) -> dict:
    """The ES ``string_stats`` response object. Entropy is Shannon
    entropy over the character distribution (log base 2), computed
    driver-side from the bounded frame — deterministic, and the
    distribution it derives from is what the differential oracle
    pins."""
    import math

    rows = string_stats_frame(df, body).collect()
    if not rows:
        # zero characters: either no non-null values at all, or every
        # value is '' — the length stats still apply in the second
        # case (ES reports count with zero lengths)
        c = F.col(body["field"]).cast("string")
        if body.get("missing") is not None:
            c = F.coalesce(c, F.lit(str(body["missing"])))
        r = (df.select(c.alias("__s"))
             .filter(F.col("__s").isNotNull())
             .agg(F.count(F.lit(1)).alias("cnt"),
                  F.min(F.length("__s")).alias("mn"),
                  F.max(F.length("__s")).alias("mx"))
             .collect()[0])
        env0: dict[str, Any] = {
            "count": r["cnt"], "min_length": r["mn"],
            "max_length": r["mx"],
            "avg_length": 0.0 if r["cnt"] else None,
            "entropy": 0.0,
        }
        if body.get("show_distribution"):
            env0["distribution"] = {}
        return env0
    entropy = -sum(r["prob"] * math.log2(r["prob"]) for r in rows
                   if r["prob"] > 0)
    env: dict[str, Any] = {
        "count": rows[0]["cnt"],
        "min_length": rows[0]["min_length"],
        "max_length": rows[0]["max_length"],
        "avg_length": rows[0]["avg_length"],
        "entropy": entropy,
    }
    if body.get("show_distribution"):
        env["distribution"] = {
            r["ch"]: r["prob"]
            for r in sorted(rows, key=lambda r: (-r["prob"], r["ch"]))
        }
    return env


#: the auto_date_histogram interval ladder: ES's seconds→hours→days
#: rungs verbatim; rungs above 7d are FIXED day multiples (30d ≈
#: month, 90d ≈ quarter, 365d ≈ year, …) where ES switches to
#: calendar units — fixed epoch-floor rounding is exactly
#: reproducible cross-engine, ES's calendar estimate is not
#: (documented divergence)
_AUTO_LADDER: list[tuple[str, int]] = [
    ("1s", 1), ("5s", 5), ("10s", 10), ("30s", 30),
    ("1m", 60), ("5m", 300), ("10m", 600), ("30m", 1800),
    ("1h", 3600), ("3h", 10800), ("12h", 43200),
    ("1d", 86400), ("7d", 604800),
    ("30d", 30 * 86400), ("90d", 90 * 86400),
    ("365d", 365 * 86400), ("1825d", 1825 * 86400),
    ("3650d", 3650 * 86400), ("7300d", 7300 * 86400),
    ("18250d", 18250 * 86400), ("36500d", 36500 * 86400),
]

_MINIMUM_INTERVAL_START = {"second": "1s", "minute": "1m",
                           "hour": "1h", "day": "1d",
                           "month": "30d", "year": "365d"}


def auto_date_histogram_plan(
    df: DataFrame, body: dict, sub_aggs: dict | None = None
) -> tuple[DataFrame | None, str]:
    """``auto_date_histogram``: pick the smallest ladder interval whose
    bucket count over the observed span fits the ``buckets`` target
    (ES default 10), then run the ordinary gap-filled date_histogram.
    Two jobs by construction — a min/max scan (cheap: min/max of one
    column) and the groupBy; ES pays the same two-phase cost via
    shard-level rounding negotiation. Returns (frame, interval_label);
    frame None when the column has no rows."""
    field = body.get("field")
    if not field:
        raise DslError("auto_date_histogram requires a field")
    target = int(body.get("buckets", 10))
    if target < 1:
        raise DslError("auto_date_histogram buckets must be >= 1")
    ladder = _AUTO_LADDER
    min_iv = body.get("minimum_interval")
    if min_iv is not None:
        start = _MINIMUM_INTERVAL_START.get(str(min_iv))
        if start is None:
            raise DslError(
                f"unknown minimum_interval {min_iv!r} (one of "
                f"{sorted(_MINIMUM_INTERVAL_START)})"
            )
        ladder = ladder[[lbl for lbl, _ in ladder].index(start):]
    row = df.agg(F.min(field).alias("mn"),
                 F.max(field).alias("mx")).collect()[0]
    if row["mn"] is None:
        return None, ladder[0][0]
    mn, mx = row["mn"], row["mx"]
    if isinstance(mn, _dt.date) and not isinstance(mn, _dt.datetime):
        # DATE-typed field: midnight-anchor the bounds so the epoch
        # grid math below works (date.replace rejects tzinfo)
        mn = _dt.datetime.combine(mn, _dt.time.min)
        mx = _dt.datetime.combine(mx, _dt.time.min)
    if not isinstance(mn, _dt.datetime):
        raise DslError(
            f"auto_date_histogram field {field!r} is not a date/"
            "timestamp column"
        )
    mn_e = int(mn.replace(tzinfo=_dt.timezone.utc).timestamp())
    mx_e = int(mx.replace(tzinfo=_dt.timezone.utc).timestamp())
    label = ladder[-1][0]
    for lbl, secs in ladder:
        # EXACT bucket count on the epoch-floored grid (a span-based
        # estimate can undercount by one when min/max straddle a
        # boundary)
        if (mx_e // secs) - (mn_e // secs) + 1 <= target:
            label = lbl
            break
    hist_body = {"field": field, "fixed_interval": label,
                 "min_doc_count": 0}
    if body.get("format") is not None:
        hist_body["format"] = body["format"]
    return histogram_frame(df, "date_histogram", hist_body,
                           sub_aggs), label


#: distinct-value budget for variable_width_histogram's global-sort
#: windows (the rare_terms posture: a named 400, never a silent cap)
_VWH_BUDGET = 1_000_000


def variable_width_histogram_frame(df: DataFrame, body: dict) -> DataFrame:
    """ES ``variable_width_histogram`` (7.9+): at most N dynamically
    sized buckets over a numeric field.

    DOCUMENTED DIVERGENCE: ES streams values into clusters with a
    buffered nearest-centroid merge — the ES docs themselves flag the
    result as order-dependent ("bucket bounds are approximate"). This
    engine partitions the SORTED DISTINCT values at the N−1 largest
    adjacent gaps (ties: the leftmost gap wins) — the exact 1-D
    clustering that maximizes inter-bucket separation, deterministic
    across engines, runs, and repartitioning (the same exactness
    posture as rare_terms vs ES's CuckooFilter).
    ``initial_buffer``/``shard_size`` only tune ES's approximation and
    are accepted-and-ignored.

    Plan: one groupBy collapses docs to (value, doc_count) pairs, so
    the two windows that follow (adjacent gap via lag, then the
    boundary-rank / running-bucket-id pass) run over DISTINCT values
    only — never over docs. Unpartitioned windows mean a single-task
    sort, so the distinct count is hard-bounded (named 400 past the
    budget); a numeric column needing variable-width buckets past 1M
    distinct points wants a plain histogram instead. Values compare as
    doubles in BOTH engines (decimal-exact gaps on one side and binary
    doubles on the other could rank ties differently). Per bucket:
    min / max / doc_count and the doc-weighted mean as ``key`` (ES's
    centroid)."""
    from pyspark.sql import Window
    from pyspark.sql.types import NumericType

    check_agg_keys("variable_width_histogram", body)
    field = body.get("field")
    if field is None:
        raise DslError("variable_width_histogram requires a field")
    n = body.get("buckets", 10)
    if not isinstance(n, int) or isinstance(n, bool) or n < 1:
        raise DslError(
            "variable_width_histogram buckets must be a positive integer")
    try:
        dt = df.schema[str(field)].dataType
    except KeyError:
        raise DslError(
            f"variable_width_histogram: unknown field {field!r}") from None
    if not isinstance(dt, NumericType):
        raise DslError(
            f"variable_width_histogram field {field!r} is not numeric")
    vals = (
        df.select(F.col(field).cast("double").alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    if vals.limit(_VWH_BUDGET + 1).count() > _VWH_BUDGET:
        raise DslError(
            f"variable_width_histogram over more than {_VWH_BUDGET} "
            "distinct values — gap ranking needs a global sort; use a "
            "fixed-interval histogram at that cardinality")
    w_v = Window.orderBy("v")
    gapped = vals.withColumn("gap", F.col("v") - F.lag("v").over(w_v))
    # rank gaps largest-first, leftmost value breaking ties; the first
    # value's null gap sorts as -1 (gaps between distinct sorted
    # values are always > 0) so it can never become a boundary even
    # when there are fewer distinct values than buckets
    rnk = F.row_number().over(
        Window.orderBy(F.coalesce(F.col("gap"), F.lit(-1.0)).desc(),
                       F.col("v").asc()))
    boundary = F.col("gap").isNotNull() & (rnk <= F.lit(n - 1))
    bucketed = gapped.withColumn(
        "bucket",
        F.sum(F.when(boundary, 1).otherwise(0)).over(
            w_v.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.min("v").alias("min"),
            F.max("v").alias("max"),
            (F.sum(F.col("v") * F.col("cnt")) / F.sum("cnt")).alias("key"),
            F.sum("cnt").cast("bigint").alias("doc_count"),
        )
        .orderBy("min")
        .select("key", "min", "max", "doc_count")
    )


def _ranges(body: dict, kind: str) -> list[dict]:
    """The validated ``ranges`` of a range-family agg: a non-empty list
    of objects on a field (named 400s, never a TypeError)."""
    ranges = body.get("ranges")
    if body.get("field") is None or not isinstance(ranges, list) \
            or not ranges:
        raise DslError(
            f"{kind} aggregation requires field and a non-empty ranges "
            "list")
    for r in ranges:
        if not isinstance(r, dict):
            raise DslError(
                f"malformed {kind} entry {r!r} (each range is an object)")
    return ranges


def _band_pred(c: Column, r: dict, lit=F.lit) -> Column:
    """One band's membership: ``from`` inclusive, ``to`` exclusive."""
    pred = c.isNotNull()
    if r.get("from") is not None:
        pred = pred & (c >= lit(r["from"]))
    if r.get("to") is not None:
        pred = pred & (c < lit(r["to"]))
    return pred


def _band(r: dict, doc_count, render=None) -> dict:
    """One range/date_range/ip_range/geo_distance band envelope: the
    doc count, the bounds it sets (``render`` turns a bound into its
    value and ``*_as_string`` twin) and its key — the entry's own, else
    ``from-to`` with ``*`` for an open end."""
    b: dict[str, Any] = {"doc_count": doc_count}
    parts = []
    for end in ("from", "to"):
        if r.get(end) is None:
            parts.append("*")
            continue
        b[end], text = render(r[end]) if render else (r[end], None)
        if text is not None:
            b[f"{end}_as_string"] = text
        parts.append(str(b[end]) if text is None else text)
    b["key"] = r.get("key", "-".join(parts))
    return b


def _render_buckets(buckets: list, body: dict, ranged: bool) -> dict:
    """``{"buckets": [...]}``, or an object under ES ``keyed: true``:
    range bands drop their inline key (it IS the object key); histogram
    buckets keep it and key by ``key_as_string`` when dated."""
    if not body.get("keyed"):
        return {"buckets": buckets}
    if ranged:
        return {"buckets": {b.pop("key"): b for b in buckets}}
    return {"buckets": {str(b.get("key_as_string", b["key"])): b
                        for b in buckets}}


def range_frame(
    df: DataFrame, body: dict, sub_aggs: dict | None = None,
    is_date: bool = False,
) -> DataFrame:
    """All ``range`` bands in ONE aggregation job. ES allows bands to
    overlap, so each is an independent conditional aggregate, not a
    partition of the rows; the output is one row per band in request
    order (``band{i}.doc_count``). ``is_date`` (the ``date_range`` agg)
    compares against parsed timestamp bounds; date-math bounds
    (``now-1M``) are a named 400 — the engine has no "now" (a
    deterministic lake query must not depend on wall clock)."""
    ranges = _ranges(body, "date_range" if is_date else "range")
    if sub_aggs:
        raise DslError(
            "metric sub-aggregations under a range agg are not supported "
            "(a range band maps to a filter agg with a range query — use "
            "that form for per-band metrics)"
        )

    def lit(v):
        if not is_date:
            return F.lit(v)
        if isinstance(v, str) and "now" in v.lower():
            raise DslError(
                f"date-math range bound {v!r} is not supported (the "
                "engine evaluates deterministically — send an absolute "
                "timestamp)"
            )
        if isinstance(v, (int, float)):
            return F.timestamp_millis(F.lit(int(v)))
        return F.to_timestamp(F.lit(v))

    c = F.col(body["field"])
    return df.agg(*[
        _count_if(_band_pred(c, r, lit)).alias(f"band{i}.doc_count")
        for i, r in enumerate(ranges)
    ])


def top_hits_frame(
    df: DataFrame, key_col: Column, keys: list, body: dict
) -> DataFrame:
    """Per-bucket top documents for a ``top_hits`` sub-agg: the window
    top-k pattern (row_number over partitionBy(bucket) — Spark pushes
    the ``<= size`` filter into WindowGroupLimit, so each partition
    pre-truncates before the shuffle). Restricted to the RETURNED
    bucket keys via an ``isin`` pushdown, so the collected volume is
    bounded by ``len(keys) * size`` no matter the key domain.

    Ties beyond the requested sort break deterministically on every
    remaining column (ES leaves them shard-arbitrary — the same
    determinism divergence as terms ordering)."""
    from pyspark.sql import Window

    size = _size(body, 3, "top_hits")
    order: list[Column] = []
    for s in body.get("sort") or []:
        if isinstance(s, str):
            field, direction = s, "asc"
        else:
            field, ospec = next(iter(s.items()))
            direction = (
                ospec.get("order", "asc") if isinstance(ospec, dict)
                else ospec
            )
        c = F.col(field)
        order.append(c.desc() if direction == "desc" else c.asc())
    order += [F.col(c).asc_nulls_first() for c in df.columns]
    w = Window.partitionBy(key_col).orderBy(*order)
    return (
        df.filter(key_col.isin(keys))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= size)
    )


def _after_lit(kind: str, value) -> Column:
    """A cursor value as a comparable literal for its source kind.

    ``after_key`` hands timestamps back as epoch MILLIS (the ES
    envelope shape) while the grouping column is a TIMESTAMP —
    comparing the raw integer would mis-coerce, so date_histogram
    cursors convert back (ISO strings accepted too)."""
    if kind == "date_histogram":
        if isinstance(value, (int, float)):
            return F.timestamp_millis(F.lit(int(value)))
        return F.to_timestamp(F.lit(value))
    return F.lit(value)


def composite_frame(
    df: DataFrame, body: dict, sub_aggs: dict | None = None
) -> DataFrame:
    """ES ``composite`` aggregation: deterministic key-ordered bucket
    PAGES with ``after``-key resumption — the one agg ES itself
    recommends for unbounded key domains, and the right shape at
    100 TB (every page is groupBy + TakeOrdered(size); the after-key
    predicate applies to the RAW columns, so rows before the cursor
    never enter the shuffle).

    ``sources`` may mix ``terms`` / ``histogram`` / ``date_histogram``
    keys. ES's default ``missing_bucket=false`` applies: rows with a
    null key column are excluded; ``missing_bucket: true`` (Kibana's
    paged group-by over sparse fields) keeps them as a null
    key that sorts FIRST (ES's default missing_order), including
    through the ``after`` cursor.
    """
    sources = body.get("sources")
    if not isinstance(sources, list) or not sources:
        raise DslError("composite requires a non-empty sources list")
    size = _size(body, 10, "composite")
    names: list[str] = []
    keys: list[Column] = []
    kinds: list[str] = []
    keep_null: list[bool] = []
    descs: list[bool] = []
    for src in sources:
        if not isinstance(src, dict) or len(src) != 1:
            raise DslError("each composite source must be {name: {kind: …}}")
        name, spec = next(iter(src.items()))
        if not isinstance(spec, dict) or len(spec) != 1:
            raise DslError(f"composite source {name!r} must have one kind")
        kind, kbody = next(iter(spec.items()))
        # composite sources take the key expression's inputs plus
        # missing_bucket and per-source order; anything else
        # would change results silently if ignored → 400
        allowed = {"field", "interval", "calendar_interval",
                   "fixed_interval", "time_zone", "offset",
                   "missing_bucket", "order"}
        unknown = sorted(set(kbody) - allowed) \
            if isinstance(kbody, dict) else []
        if unknown:
            raise DslError(
                f"unsupported composite source options: {unknown} "
                f"(supported: {sorted(allowed)})"
            )
        order = kbody.get("order", "asc") if isinstance(kbody, dict) \
            else "asc"
        if order not in ("asc", "desc"):
            raise DslError(
                f"unknown composite source order {order!r}")
        names.append(name)
        kinds.append(kind)
        descs.append(order == "desc")
        keep_null.append(bool(kbody.get("missing_bucket", False))
                         if isinstance(kbody, dict) else False)
        keys.append(bucket_key(kind, kbody))
    after = body.get("after")
    out = df
    for k, keep in zip(keys, keep_null):
        if not keep:
            out = out.filter(k.isNotNull())
    if after is not None:
        missing = [n for n in names if n not in after]
        if missing:
            raise DslError(f"after key missing sources: {missing}")
        # strict lexicographic "(k1..kn) after (a1..an)" in each
        # source's direction, built innermost-out on the raw columns:
        # pre-shuffle cursor pruning. ES's missing_order default: the
        # null bucket sorts FIRST ascending and LAST descending — the
        # per-direction null arms below encode exactly that.
        pred = F.lit(False)
        for k, n, kd, dsc in zip(reversed(keys), reversed(names),
                                 reversed(kinds), reversed(descs)):
            a = after[n]
            if a is None:
                if dsc:  # null sorts last: only deeper keys advance
                    pred = k.isNull() & pred
                else:
                    pred = k.isNotNull() | (k.isNull() & pred)
            elif dsc:
                lit = _after_lit(kd, a)
                pred = (k < lit) | k.isNull() | ((k == lit) & pred)
            else:
                lit = _after_lit(kd, a)
                pred = (k > lit) | ((k == lit) & pred)
        out = out.filter(pred)
    grouped = (
        out.groupBy(*[k.alias(n) for k, n in zip(keys, names)])
        .agg(F.count(F.lit(1)).alias("doc_count"), *_metric_cols(sub_aggs))
        .orderBy(*[
            F.col(n).desc_nulls_last() if dsc
            else F.col(n).asc_nulls_first()
            for n, dsc in zip(names, descs)
        ])
        .limit(size)
    )
    return grouped


#: bucket kinds that can form a nested level chain
_LEVEL_KINDS = ("terms", "histogram", "date_histogram")

#: hard cap on the flat composite-key rows a nested chain may collect
#: (the driver-memory bound, enforced in-plan)
_NESTED_FLAT_BUDGET = 100_000


def _split_chains(
    name: str, kind: str, body: dict, sub: dict | None
) -> list[tuple[list[tuple[str, str, dict]], list[dict], dict]]:
    """Walk a nested bucket-agg TREE into root-to-leaf level chains.

    Returns one ``(levels, metrics_per_level, top_hits)`` triple per
    path: ``levels[i] = (agg_name, kind, body)`` top-down,
    ``metrics_per_level[i]`` the metric sub-aggs attaching to
    level-``i`` buckets, ``top_hits`` the ``top_hits`` specs at the
    chain's DEEPEST level (named errors above it).

    SIBLING bucket sub-aggs branch the
    walk: each sibling becomes its own chain sharing the ancestor
    prefix, and every shared ancestor level carries the SAME metric
    dict in every chain — so each chain's driver-side assembly orders
    and truncates the shared levels identically, which is what lets
    :func:`run_aggs` graft the sibling subtrees onto one response tree
    by bucket key. Cost: one composite-key shuffle per leaf chain
    (ES's own cost model — every sibling is its own aggregation)."""
    chains: list = []

    def walk(levels: list, mets_prefix: list, sub: dict | None) -> None:
        if isinstance(levels[-1][2], dict) and levels[-1][2].get("keyed"):
            raise DslError(
                "keyed is not supported inside a nested bucket chain "
                "(the chain response is assembled as lists)"
            )
        buckets: dict = {}
        mets: dict = {}
        ths: dict = {}
        for n, s in (sub or {}).items():
            if not isinstance(s, dict):
                raise DslError(f"aggregation {n!r} must be an object")
            k = _agg_kind(s)
            if k in _LEVEL_KINDS:
                buckets[n] = s
            elif k == "top_hits":
                ths[n] = s["top_hits"]
            elif k in ("filter", "filters", "range", "date_range",
                       "composite"):
                raise DslError(
                    f"{k} is not supported inside a nested bucket chain"
                )
            else:
                mets[n] = s
        if ths and buckets:
            raise DslError(
                "top_hits inside a nested bucket chain is only "
                "supported at the DEEPEST level (hits attach to the "
                f"innermost buckets; got {sorted(ths)} next to deeper "
                f"bucket aggs {sorted(buckets)})"
            )
        if not buckets:
            chains.append((levels, mets_prefix + [mets], ths))
            return
        for n, s in buckets.items():
            k = _agg_kind(s)
            check_agg_keys(k, s[k])
            walk(levels + [(n, k, s[k])], mets_prefix + [mets], _subs(s))

    walk([(name, kind, body)], [], sub)
    return chains


def _split_levels(
    name: str, kind: str, body: dict, sub: dict | None
) -> tuple[list[tuple[str, str, dict]], list[dict]]:
    """Single-chain form of :func:`_split_chains` (the shape the
    registry's flat-frame queries use): ``(levels,
    metrics_per_level)``, erroring on siblings and top_hits."""
    chains = _split_chains(name, kind, body, sub)
    if len(chains) > 1:
        raise DslError(
            "sibling bucket sub-aggregations need the full tree path "
            "(use run_aggs, which grafts per-sibling chains)"
        )
    levels, metrics, ths = chains[0]
    if ths:
        raise DslError(
            "top_hits inside a nested bucket chain needs the full "
            "tree path (use run_aggs)"
        )
    return levels, metrics


def _component_cols(
    levels: list, metrics: list[dict]
) -> list[Column]:
    """Mergeable metric COMPONENTS at the finest bucket granularity.

    Metrics above the deepest level must roll up driver-side from the
    flat frame, so each compiles to its sufficient statistics
    (count/sum/min/max/null-count) instead of its final value —
    ``avg`` at any level is then child-sums over child-counts.
    ``percentiles``/``cardinality`` have no mergeable components
    (exactly why ES itself approximates them) and are only accepted at
    the deepest level, where one flat row IS the bucket."""
    deepest = len(levels) - 1
    cols: list[Column] = []
    for li, mets in enumerate(metrics):
        for name, spec in mets.items():
            kind = _agg_kind(spec, name)
            body = spec[kind]
            _check_subs(name, kind, _subs(spec))
            field = body.get("field") if isinstance(body, dict) else None
            if field is None:
                raise DslError(
                    f"aggregation {name!r} ({kind}) requires a field")
            check_agg_keys(kind, body)
            p = f"{li}|{name}|"
            c = _metric_source(body)
            if kind == "avg":
                cols += [F.count(c).alias(p + "cnt"),
                         F.sum(c).alias(p + "sum")]
            elif kind == "sum":
                cols.append(F.sum(c).alias(p + "sum"))
            elif kind == "min":
                cols.append(F.min(c).alias(p + "min"))
            elif kind == "max":
                cols.append(F.max(c).alias(p + "max"))
            elif kind == "value_count":
                cols.append(F.count(c).alias(p + "cnt"))
            elif kind == "missing":
                cols.append(
                    F.sum(F.when(c.isNull(), 1).otherwise(0))
                    .cast("bigint").alias(p + "nulls"))
            elif kind == "stats":
                cols += [F.count(c).alias(p + "cnt"),
                         F.sum(c).alias(p + "sum"),
                         F.min(c).alias(p + "min"),
                         F.max(c).alias(p + "max")]
            elif kind == "percentiles":
                if li != deepest:
                    raise DslError(
                        "percentiles above the deepest level of a "
                        "nested bucket chain are not mergeable — move "
                        "the agg to the innermost bucket"
                    )
                for pp in body.get("percents", _DEFAULT_PERCENTS):
                    cols.append(
                        F.percentile(c, F.lit(float(pp) / 100.0))
                        .alias(f"{p}%{float(pp)}"))
            elif kind == "cardinality":
                if li != deepest:
                    raise DslError(
                        "cardinality above the deepest level of a "
                        "nested bucket chain is not mergeable — move "
                        "the agg to the innermost bucket"
                    )
                cols.append(F.count_distinct(c).alias(p + "card"))
            else:
                raise DslError(
                    f"unsupported sub-aggregation kind {kind!r} "
                    f"under {name!r}"
                )
    return cols


def nested_levels_frame(
    df: DataFrame, levels: list, metrics: list[dict]
) -> DataFrame:
    """The ONE-shuffle flat frame for a nested bucket chain: group on
    the composite key ``(level0 … levelN)`` with every metric's
    mergeable components riding the same job; the response tree is
    assembled driver-side (:func:`_assemble_levels`).

    Only the TOP level's null keys are filtered — a doc with a level-0
    key but a null deeper key still counts in its parent's
    ``doc_count`` (ES's behavior), carried here as a null-key flat row
    its parent sums and its level skips.

    Scale: collected volume is the product of returned bucket counts
    (terms levels truncate driver-side), the same bound ES's own
    response tree has; for unbounded key domains ``composite`` remains
    the paged path."""
    keys = [
        bucket_key(kind, body).alias(f"__k{li}")
        for li, (_, kind, body) in enumerate(levels)
    ]
    top_key = bucket_key(levels[0][1], levels[0][2])
    return (
        df.filter(top_key.isNotNull())
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("doc_count"),
             *_component_cols(levels, metrics))
    )


def _rollup_metrics(rows: list, mets: dict, li: int) -> dict:
    """Metric envelopes for one bucket from its flat rows' components."""
    out: dict[str, Any] = {}
    for name, spec in mets.items():
        kind = _agg_kind(spec)
        body = spec[kind]
        p = f"{li}|{name}|"

        def vals(comp: str) -> list:
            return [r[p + comp] for r in rows if r[p + comp] is not None]

        if kind == "avg":
            cnt = sum(vals("cnt"))
            out[name] = {"value":
                         (sum(vals("sum")) / cnt) if cnt else None}
        elif kind == "sum":
            s = vals("sum")
            out[name] = {"value": sum(s) if s else 0}
        elif kind == "min":
            v = vals("min")
            out[name] = {"value": min(v) if v else None}
        elif kind == "max":
            v = vals("max")
            out[name] = {"value": max(v) if v else None}
        elif kind == "value_count":
            out[name] = {"value": int(sum(vals("cnt")))}
        elif kind == "missing":
            out[name] = {"doc_count": int(sum(vals("nulls")))}
        elif kind == "stats":
            cnt = int(sum(vals("cnt")))
            s, mn, mx = vals("sum"), vals("min"), vals("max")
            out[name] = {
                "count": cnt,
                "min": min(mn) if mn else None,
                "max": max(mx) if mx else None,
                "avg": (sum(s) / cnt) if cnt else None,
                "sum": sum(s) if s else 0,
            }
        elif kind == "percentiles":
            if not rows:  # gap-filled empty bucket
                out[name] = {"values": {
                    str(float(pp)): None
                    for pp in body.get("percents", _DEFAULT_PERCENTS)}}
                continue
            (row,) = rows  # deepest level: one flat row per bucket
            out[name] = {"values": {
                str(float(pp)): row[f"{p}%{float(pp)}"]
                for pp in body.get("percents", _DEFAULT_PERCENTS)
            }}
        elif kind == "cardinality":
            if not rows:
                out[name] = {"value": 0}
                continue
            (row,) = rows
            out[name] = {"value": row[p + "card"]}
    return out


def _to_wall(k: _dt.datetime, tz: str | None, off: int) -> _dt.datetime:
    """UTC bucket instant → its (offset-shifted) local wall value."""
    if tz:
        from zoneinfo import ZoneInfo

        k = (k.replace(tzinfo=_dt.timezone.utc)
             .astimezone(ZoneInfo(tz)).replace(tzinfo=None))
    return k - _dt.timedelta(seconds=off) if off else k


def _from_wall(k: _dt.datetime, tz: str | None, off: int) -> _dt.datetime:
    """Local wall value → UTC bucket instant (fold=0 on ambiguity —
    the earlier occurrence, matching to_utc_timestamp)."""
    if off:
        k = k + _dt.timedelta(seconds=off)
    if tz:
        from zoneinfo import ZoneInfo

        k = (k.replace(tzinfo=ZoneInfo(tz))
             .astimezone(_dt.timezone.utc).replace(tzinfo=None))
    return k


def _advance_key(k, kind: str, body: dict):
    """The next bucket key after ``k`` — the driver-side mirror of
    :func:`_histogram_step` for in-memory gap filling. date_histogram
    steps in the ``time_zone``'s wall clock (offset removed first) so
    DST-short days advance by one calendar day, not 24 fixed hours."""
    if kind == "histogram":
        return k + int(body["interval"])
    tz = _check_time_zone(body.get("time_zone"))
    off = _parse_offset(body.get("offset"))
    k = _to_wall(k, tz, off)
    cal = body.get("calendar_interval")
    if cal is not None:
        unit = _CALENDAR_TRUNC[cal]
        if unit in ("second", "minute", "hour", "day", "week"):
            secs = {"second": 1, "minute": 60, "hour": 3600,
                    "day": 86400, "week": 7 * 86400}[unit]
            k = k + _dt.timedelta(seconds=secs)
        else:
            months = {"month": 1, "quarter": 3, "year": 12}[unit]
            total = (k.year * 12 + (k.month - 1)) + months
            k = k.replace(year=total // 12, month=total % 12 + 1)
        return _from_wall(k, tz, off)
    m = _FIXED_RE.match(str(body.get("fixed_interval")))
    secs = int(m.group(1)) * _FIXED_SECS[m.group(2)]
    if secs != int(secs) or secs < 1:
        raise DslError(
            "min_doc_count: 0 needs a whole-second fixed_interval")
    return _from_wall(k + _dt.timedelta(seconds=int(secs)), tz, off)


def _metric_order_getter(target: str, mets: dict, li: int):
    """A ``terms`` ``order`` metric target inside a nested chain →
    a function (bucket's flat rows) → orderable value, backed by the
    same component rollup the envelope uses. Only single-value
    mergeable metrics (and stats paths) have a total order to sort
    by — the same target set :func:`_terms_order` accepts."""
    base, _, stat = target.partition(".")
    spec = mets.get(base)
    if spec is None:
        raise DslError(
            f"terms order references unknown sub-agg {target!r}")
    mkind = _agg_kind(spec)
    if mkind is None:
        raise DslError(
            f"terms order target {target!r} has a malformed sub-agg spec")
    if mkind == "stats":
        if stat not in dict(_STATS):
            raise DslError(
                f"unknown stats path in terms order {target!r}")
    elif mkind in ("percentiles", "missing"):
        raise DslError(
            f"cannot order terms by a {mkind} sub-agg ({base!r})")
    elif stat:
        raise DslError(f"malformed terms order target {target!r}")

    def get(rs: list):
        env = _rollup_metrics(rs, {base: spec}, li)[base]
        return env[stat] if mkind == "stats" else env.get("value")

    return get


def _assemble_levels(
    rows: list, levels: list, metrics: list[dict], li: int
) -> dict:
    """Recursive driver-side tree assembly over the flat frame rows."""
    _, kind, body = levels[li]
    groups: dict = {}
    for r in rows:
        k = r[f"__k{li}"]
        if k is None:
            continue  # counted by the parent, no bucket at this level
        groups.setdefault(k, []).append(r)
    items = [
        (k, rs, sum(r["doc_count"] for r in rs))
        for k, rs in groups.items()
    ]
    total = sum(t[2] for t in items)
    if kind == "terms":
        size = _size(body, 10, "terms")
        min_dc = int(body.get("min_doc_count", 1))
        if body.get("include") is not None \
                or body.get("exclude") is not None:
            # bucket-level (not row-level — a row filter would wrongly
            # shrink parent doc_counts); totals re-scope like ES
            items = [t for t in items
                     if _include_exclude_py(t[0], body)]
            total = sum(t[2] for t in items)
        if min_dc > 1:
            items = [t for t in items if t[2] >= min_dc]
        # driver-side mirror of _terms_order over the in-memory items:
        # stable passes in reverse spec order; key-asc tie-break first
        spec = body.get("order", {"_count": "desc"})
        specs = [spec] if isinstance(spec, dict) else list(spec)
        items.sort(key=lambda t: (t[0],))
        for s in reversed(specs):
            if not isinstance(s, dict) or len(s) != 1:
                raise DslError(f"malformed terms order clause {s!r}")
            target, direction = next(iter(s.items()))
            if direction not in ("asc", "desc"):
                raise DslError(
                    f"unknown terms order direction {direction!r}")
            if target == "_count":
                items.sort(key=lambda t: t[2],
                           reverse=direction == "desc")
            elif target in ("_key", "_term"):
                items.sort(key=lambda t: t[0],
                           reverse=direction == "desc")
            else:
                # order by a metric sub-agg AT THIS LEVEL (Kibana's
                # "order by metric" on a nested terms panel): the metric's mergeable components already
                # rode the one shuffle, so its per-bucket value
                # rolls up from the item's flat rows exactly like
                # the envelope's — no extra job. Null metric values
                # (all-null buckets) sort LAST in either direction,
                # ES's missing-last posture.
                getter = _metric_order_getter(
                    str(target), metrics[li], li)
                import functools as _ft

                def _cmp(a, b, _g=getter, _d=direction):
                    va, vb = _g(a[1]), _g(b[1])
                    if va is None and vb is None:
                        return 0
                    if va is None:
                        return 1
                    if vb is None:
                        return -1
                    if va == vb:
                        return 0
                    lt = va < vb
                    return (1 if lt else -1) if _d == "desc" \
                        else (-1 if lt else 1)

                items.sort(key=_ft.cmp_to_key(_cmp))
        items = items[:size]
    else:
        if "extended_bounds" in body:
            raise DslError(
                "extended_bounds inside a nested bucket chain is not "
                "supported — widen the top-level histogram instead"
            )
        min_dc = int(body.get("min_doc_count", 1))
        items.sort(key=lambda t: t[0])
        if min_dc == 0 and items:
            # per-parent gap fill, driver-side (the keys are already
            # in memory): empty buckets get no rows → doc_count 0,
            # null metrics, empty child levels — ES's envelope
            filled = []
            k, last = items[0][0], items[-1][0]
            by_key = {t[0]: t for t in items}
            guard = 0
            while k <= last:
                filled.append(by_key.get(k, (k, [], 0)))
                k = _advance_key(k, kind, body)
                guard += 1
                if guard > 100_000:
                    raise DslError(
                        "gap filling this histogram level would emit "
                        ">100k buckets — narrow the range or raise "
                        "the interval"
                    )
            items = filled
        elif min_dc > 1:
            items = [t for t in items if t[2] >= min_dc]
    buckets = []
    for k, rs, dc in items:
        b: dict[str, Any] = {"key": _key_envelope(k), "doc_count": dc}
        if isinstance(k, _dt.datetime):
            b["key_as_string"] = _key_as_string(k, body)
        b.update(_rollup_metrics(rs, metrics[li], li))
        if li + 1 < len(levels):
            b[levels[li + 1][0]] = _assemble_levels(
                rs, levels, metrics, li + 1)
        buckets.append(b)
    env: dict[str, Any] = {"buckets": buckets}
    if kind == "terms":
        env["doc_count_error_upper_bound"] = 0  # exact (divergence note)
        env["sum_other_doc_count"] = int(
            total - sum(t[2] for t in items))
    return env


#: sibling pipeline aggs (reduce a bucket list to one value) and
#: parent pipeline aggs (a per-bucket running transform).
#: _ORDERED_PIPELINES additionally need a histogram-ordered parent
#: (ES enforces the same restriction — a running diff over unordered
#: terms buckets is meaningless); the script family works under any
#: multi-bucket agg, terms included.
_ORDERED_PIPELINES = ("cumulative_sum", "derivative", "serial_diff",
                      "moving_fn")
_SCRIPT_PIPELINES = ("bucket_script", "bucket_selector", "bucket_sort")
#: normalize rescales each bucket's value against the whole
#: sibling list — order-free, so any multi-bucket parent qualifies
#: (ES allows it under terms as well as histograms)
_VALUE_PIPELINES = ("normalize",)
_PARENT_PIPELINES = (_ORDERED_PIPELINES + _SCRIPT_PIPELINES
                     + _VALUE_PIPELINES)


#: token stream for the bucket-script grammar: numbers, params.refs,
#: arithmetic / comparison / boolean operators, parentheses
_SCRIPT_TOKEN_RE = re.compile(
    r"\s*(?:(\d+\.\d*|\.\d+|\d+)|params\.([A-Za-z_][A-Za-z0-9_]*)"
    r"|(\(|\)|\+|-|\*|/|%|>=|<=|==|!=|>|<|&&|\|\||!))"
)


def _tokenize_script(src: str) -> list[tuple[str, Any]]:
    toks: list[tuple[str, Any]] = []
    pos = 0
    while pos < len(src):
        m = _SCRIPT_TOKEN_RE.match(src, pos)
        if m is None:
            if src[pos:].strip() == "":
                break
            raise DslError(
                f"unsupported bucket script syntax at {src[pos:]!r} "
                "(implemented: numbers, params.<name>, + - * / % "
                "( ) > >= < <= == != && || !)"
            )
        if m.group(1) is not None:
            toks.append(("num", float(m.group(1))))
        elif m.group(2) is not None:
            toks.append(("param", m.group(2)))
        else:
            toks.append(("op", m.group(3)))
        pos = m.end()
    return toks


def _eval_bucket_script(src: str, params: dict):
    """Evaluate the ``params.x``-algebra subset of painless that
    Kibana TSVB generates for ``bucket_script``/``bucket_selector``
    ("params.n / params.d * 100", "params.total > 50") — a
    recursive-descent evaluator over a fixed grammar, NEVER eval().

    Returns None when any referenced param is null/absent (the
    caller applies ES's "skip" gap policy) and on division by zero
    (painless would throw the whole request away; a null bucket
    value is this engine's documented softer posture)."""
    toks = _tokenize_script(str(src))
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else (None, None)

    def take(op=None):
        nonlocal pos
        t = peek()
        if t[0] is None or (op is not None and t != ("op", op)):
            raise DslError(f"malformed bucket script {src!r}")
        pos += 1
        return t

    def primary():
        kind, val = peek()
        if kind == "num":
            take()
            return val
        if kind == "param":
            take()
            if val not in params:
                raise DslError(
                    f"bucket script references params.{val} but "
                    f"buckets_path defines {sorted(params)}"
                )
            return params[val]
        if (kind, val) == ("op", "("):
            take()
            v = or_expr()
            take(")")
            return v
        if (kind, val) == ("op", "-"):
            take()
            v = primary()
            return None if v is None else -v
        if (kind, val) == ("op", "!"):
            take()
            v = primary()
            return None if v is None else (not bool(v))
        raise DslError(f"malformed bucket script {src!r}")

    def mul_expr():
        v = primary()
        while peek() == ("op", "*") or peek() == ("op", "/") \
                or peek() == ("op", "%"):
            op = take()[1]
            r = primary()
            if v is None or r is None:
                v = None
            elif op == "*":
                v = v * r
            elif r == 0:
                v = None
            elif op == "/":
                v = v / r
            else:
                v = v % r
        return v

    def add_expr():
        v = mul_expr()
        while peek() == ("op", "+") or peek() == ("op", "-"):
            op = take()[1]
            r = mul_expr()
            if v is None or r is None:
                v = None
            else:
                v = v + r if op == "+" else v - r
        return v

    def cmp_expr():
        v = add_expr()
        if peek()[0] == "op" and peek()[1] in (">", ">=", "<", "<=",
                                               "==", "!="):
            op = take()[1]
            r = add_expr()
            if v is None or r is None:
                return None
            return {">": v > r, ">=": v >= r, "<": v < r,
                    "<=": v <= r, "==": v == r, "!=": v != r}[op]
        return v

    def and_expr():
        v = cmp_expr()
        while peek() == ("op", "&&"):
            take()
            r = cmp_expr()
            v = None if (v is None or r is None) else (bool(v) and
                                                       bool(r))
        return v

    def or_expr():
        v = and_expr()
        while peek() == ("op", "||"):
            take()
            r = and_expr()
            v = None if (v is None or r is None) else (bool(v) or
                                                       bool(r))
        return v

    out = or_expr()
    if pos != len(toks):
        raise DslError(f"malformed bucket script {src!r}")
    return out


def _script_params(bucket: dict, paths) -> dict:
    """Resolve a bucket_script/selector ``buckets_path`` map (ES also
    accepts a single string, exposed as ``params._value``) against one
    bucket; unknown-metric errors surface, null values stay None."""
    if isinstance(paths, str):
        paths = {"_value": paths}
    if not isinstance(paths, dict) or not paths:
        raise DslError(
            "bucket_script/bucket_selector buckets_path must be a "
            "non-empty {param: path} object (or a single path string)"
        )
    return {k: _pipeline_path_value(bucket, p) for k, p in paths.items()}


#: the MovingFunctions idioms Kibana emits for ``moving_fn`` scripts —
#: parsed by name, never executed as code. stdDev accepts ES's
#: documented two-arg form with the unweightedAvg inner call.
_MOVING_FN_RE = re.compile(
    r"^\s*MovingFunctions\.(max|min|sum|unweightedAvg|stdDev)\s*"
    r"\(\s*values\s*"
    r"(?:,\s*MovingFunctions\.unweightedAvg\s*\(\s*values\s*\)\s*)?"
    r"\)\s*$"
)


def _moving_fn_value(fn: str, vals: list):
    vals = [v for v in vals if v is not None]
    if not vals:
        return None
    if fn == "max":
        return max(vals)
    if fn == "min":
        return min(vals)
    if fn == "sum":
        return sum(vals)
    mean = sum(vals) / len(vals)
    if fn == "unweightedAvg":
        return mean
    # stdDev: ES's MovingFunctions.stdDev is the POPULATION deviation
    return (sum((v - mean) ** 2 for v in vals) / len(vals)) ** 0.5


#: the six documented ES normalize methods (z-score spelled with the
#: hyphen, like ES)
_NORMALIZE_METHODS = ("rescale_0_1", "rescale_0_100", "percent_of_sum",
                      "mean", "z-score", "softmax")


def _normalize_values(method: str, vals: list) -> list:
    """ES ``normalize`` over one bucket-value list. Null values (gap
    policy "skip") stay null and are excluded from the statistics,
    like ES.

    Moment arithmetic is FIXED-ORDER (sum / sumsq accumulated
    left-to-right, then one divide/subtract/sqrt chain) so an oracle
    replaying the same expressions over the same inputs matches
    bit-exactly — the extended_stats convention. Degenerate spans
    (max == min, zero deviation, zero sum) normalize to 0.0 — a
    documented engine choice where ES's output is undefined division.
    ``softmax`` is computed max-shifted (exp(v-max)/Σexp(v-max)):
    mathematically ES's formula, stable for large magnitudes."""
    import math

    if method not in _NORMALIZE_METHODS:
        raise DslError(
            f"unsupported normalize method {method!r} "
            f"(supported: {list(_NORMALIZE_METHODS)})"
        )
    present = [float(v) for v in vals if v is not None]
    if not present:
        return [None] * len(vals)
    n = float(len(present))
    s = 0.0
    sq = 0.0
    mx = present[0]
    mn = present[0]
    for v in present:
        s += v
        sq += v * v
        if v > mx:
            mx = v
        if v < mn:
            mn = v
    rng = mx - mn
    mean = s / n

    if method == "softmax":
        es = 0.0
        for v in present:
            es += math.exp(v - mx)
        return [None if v is None else math.exp(float(v) - mx) / es
                for v in vals]
    if method == "percent_of_sum":
        f = (lambda v: 0.0) if s == 0 else (lambda v: v / s)
    elif method == "rescale_0_1":
        f = (lambda v: 0.0) if rng == 0 else (lambda v: (v - mn) / rng)
    elif method == "rescale_0_100":
        f = (lambda v: 0.0) if rng == 0 \
            else (lambda v: 100.0 * (v - mn) / rng)
    elif method == "mean":
        f = (lambda v: 0.0) if rng == 0 \
            else (lambda v: (v - mean) / rng)
    else:  # z-score: population deviation from raw moments
        var = sq / n - mean * mean
        sd = math.sqrt(var) if var > 0 else 0.0
        f = (lambda v: 0.0) if sd == 0 else (lambda v: (v - mean) / sd)
    return [None if v is None else f(float(v)) for v in vals]


def _pipeline_path_value(bucket: dict, path: str):
    """Resolve the metric segment of a ``buckets_path`` against one
    bucket: ``_count`` → doc_count, ``m`` → the metric value,
    ``m.stat`` → a stats component."""
    if path == "_count":
        return bucket["doc_count"]
    base, _, stat = path.partition(".")
    env = bucket.get(base)
    if not isinstance(env, dict):
        raise DslError(
            f"buckets_path references unknown metric {path!r}")
    if stat:
        if stat not in env:
            raise DslError(
                f"buckets_path references unknown stats path {path!r}")
        return env[stat]
    return env.get("value")


def _check_gap_policy(body: dict) -> None:
    gp = body.get("gap_policy", "skip")
    if gp != "skip":
        raise DslError(
            f"unsupported gap_policy {gp!r} (only ES's default "
            "'skip' is implemented)"
        )


def _path_values(buckets: list, pk: str, pb: dict) -> list:
    path = pb.get("buckets_path")
    if not path:
        raise DslError(f"{pk} requires buckets_path")
    if not isinstance(path, str) or ">" in path:
        raise DslError(
            f"{pk} buckets_path must reference a sibling metric "
            f"of the same bucket agg (got {path!r})"
        )
    return [_pipeline_path_value(b, path) for b in buckets]


def _apply_parent_pipelines(
    buckets: list, pipes: dict, ordered: bool
) -> list:
    """Parent pipeline aggs over an already-computed bucket list —
    driver-side, no extra job, gap policy "skip" (ES's default).

    ``ordered`` marks a histogram/date_histogram parent; the running
    family (cumulative_sum / derivative / serial_diff / moving_fn)
    needs it and is a named error elsewhere — ES enforces the same
    restriction. The script family (bucket_script / bucket_selector /
    bucket_sort) works under any multi-bucket parent, terms included.

    Application order: value-producing pipes in body order (so a
    bucket_script may reference an earlier pipeline by name through
    buckets_path — ES resolves the same dependency chain), then
    selectors, then bucket_sort — a selector/sort must see every
    computed value. Returns the (possibly filtered/reordered) list."""
    selectors: list[tuple[str, dict]] = []
    sorts: list[tuple[str, dict]] = []
    for pname, pspec in pipes.items():
        pk = _agg_kind(pspec)
        pb = pspec[pk]
        _check_gap_policy(pb if isinstance(pb, dict) else {})
        if pk in _ORDERED_PIPELINES and not ordered:
            raise DslError(
                f"{pk} requires a histogram/date_histogram parent "
                "(running transforms need ordered buckets)"
            )
        if pk == "bucket_selector":
            selectors.append((pname, pb))
            continue
        if pk == "bucket_sort":
            sorts.append((pname, pb))
            continue
        if pk == "cumulative_sum":
            run = 0.0
            for b, v in zip(buckets, _path_values(buckets, pk, pb)):
                run += v or 0
                b[pname] = {"value": run}
        elif pk == "derivative":
            # ES omits it from the FIRST bucket
            prev = None
            vals = _path_values(buckets, pk, pb)
            for i, (b, v) in enumerate(zip(buckets, vals)):
                if i > 0 and v is not None and prev is not None:
                    b[pname] = {"value": v - prev}
                if v is not None:
                    prev = v
        elif pk == "serial_diff":
            lag = int(pb.get("lag", 1))
            if lag < 1:
                raise DslError("serial_diff lag must be >= 1")
            vals = _path_values(buckets, pk, pb)
            for i, b in enumerate(buckets):
                if i >= lag and vals[i] is not None \
                        and vals[i - lag] is not None:
                    b[pname] = {"value": vals[i] - vals[i - lag]}
        elif pk == "moving_fn":
            m = _MOVING_FN_RE.match(str(pb.get("script", "")))
            if m is None:
                raise DslError(
                    f"unsupported moving_fn script {pb.get('script')!r}"
                    " (implemented: MovingFunctions.max/min/sum/"
                    "unweightedAvg/stdDev over `values`)"
                )
            window = int(pb.get("window", 0))
            if window < 1:
                raise DslError("moving_fn requires a positive window")
            shift = int(pb.get("shift", 0))
            vals = _path_values(buckets, pk, pb)
            for i, b in enumerate(buckets):
                # ES's window at bucket i: [i-window+shift, i+shift)
                # — shift 0 is "the previous `window` buckets,
                # current excluded"
                lo, hi = i - window + shift, i + shift
                v = _moving_fn_value(
                    m.group(1), vals[max(0, lo):max(0, hi)])
                if v is not None:
                    b[pname] = {"value": v}
        elif pk == "bucket_script":
            script = pb.get("script")
            if script is None:
                raise DslError("bucket_script requires a script")
            for b in buckets:
                v = _eval_bucket_script(
                    script, _script_params(b, pb.get("buckets_path")))
                if v is not None:
                    b[pname] = {"value": float(v) if isinstance(
                        v, bool) else v}
        elif pk == "normalize":
            vals = _path_values(buckets, pk, pb)
            normed = _normalize_values(str(pb.get("method")), vals)
            for b, v in zip(buckets, normed):
                if v is not None:
                    b[pname] = {"value": v}
    for pname, pb in selectors:
        script = pb.get("script")
        if script is None:
            raise DslError("bucket_selector requires a script")
        kept = []
        for b in buckets:
            v = _eval_bucket_script(
                script, _script_params(b, pb.get("buckets_path")))
            # gap policy "skip": a bucket the script can't see
            # (missing value) is RETAINED un-evaluated, like ES
            if v is None or bool(v):
                kept.append(b)
        buckets = kept
    for pname, pb in sorts:
        sort_spec = pb.get("sort")
        if sort_spec is not None:
            if not isinstance(sort_spec, list) or not sort_spec:
                raise DslError("bucket_sort sort must be a non-empty "
                               "list")
            # ES applies sort keys in order; buckets missing a sort
            # value are DROPPED under gap policy "skip"
            for clause in reversed(sort_spec):
                if isinstance(clause, str):
                    path, direction = clause, "asc"
                elif isinstance(clause, dict) and len(clause) == 1:
                    path, spec = next(iter(clause.items()))
                    direction = (spec.get("order", "asc")
                                 if isinstance(spec, dict) else spec)
                else:
                    raise DslError(
                        f"malformed bucket_sort clause {clause!r}")
                if direction not in ("asc", "desc"):
                    raise DslError(
                        f"unknown bucket_sort order {direction!r}")
                if path == "_key":
                    keyed = [(b["key"], b) for b in buckets]
                else:
                    keyed = [(_pipeline_path_value(b, path), b)
                             for b in buckets]
                keyed = [(v, b) for v, b in keyed if v is not None]
                keyed.sort(key=lambda t: t[0],
                           reverse=(direction == "desc"))
                buckets = [b for _, b in keyed]
        start = int(pb.get("from", 0))
        size = pb.get("size")
        buckets = buckets[start:(start + int(size))
                          if size is not None else None]
    return buckets


def _sibling_pipeline_envelope(kind: str, body: dict, out: dict) -> dict:
    """``{avg,sum,min,max,stats}_bucket``: reduce a sibling bucket
    agg's per-bucket metric to one value. ``buckets_path`` is
    ``"sibling>metric"`` (or ``sibling>_count``); null values skip —
    ES's default gap policy."""
    _check_gap_policy(body)
    path = body.get("buckets_path")
    if not path or ">" not in path:
        raise DslError(
            f"{kind} requires buckets_path of the form "
            "\"sibling_agg>metric\""
        )
    agg_name, _, metric_path = path.partition(">")
    env = out.get(agg_name)
    if not isinstance(env, dict) or not isinstance(env.get("buckets"),
                                                   list):
        raise DslError(
            f"buckets_path {path!r} does not reference a sibling "
            "bucket aggregation with list buckets (keyed targets are "
            "not addressable)"
        )
    vals = [_pipeline_path_value(b, metric_path)
            for b in env["buckets"]]
    vals = [v for v in vals if v is not None]
    if kind == "percentiles_bucket":
        # ES computes these EXACTLY over the bucket values with
        # nearest-rank selection (round(p/100 * (n-1)) into the
        # sorted list) — no interpolation, unlike the percentiles
        # METRIC agg
        percents = body.get("percents", _DEFAULT_PERCENTS)
        svals = sorted(vals)
        values = {}
        for p in percents:
            if not svals:
                values[str(float(p))] = None
            else:
                idx = int(float(p) / 100.0 * (len(svals) - 1) + 0.5)
                values[str(float(p))] = svals[idx]
        return {"values": values}
    if kind == "stats_bucket":
        cnt = len(vals)
        return {
            "count": cnt,
            "min": min(vals) if vals else None,
            "max": max(vals) if vals else None,
            "avg": (sum(vals) / cnt) if cnt else None,
            "sum": sum(vals) if vals else 0,
        }
    if kind == "extended_stats_bucket":
        # stats_bucket plus the moment family — the extended_stats
        # metric's envelope (ES shares the implementation too). Floats
        # throughout: a decimal-typed sibling metric would poison sqrt
        vals = [float(v) for v in vals]
        return _extended_stats_env(
            len(vals), min(vals, default=None), max(vals, default=None),
            sum(vals) if vals else None,
            sum(v * v for v in vals) if vals else None,
            float(body.get("sigma", 2.0)))
    if not vals:
        return {"value": None if kind != "sum_bucket" else 0}
    if kind == "avg_bucket":
        return {"value": sum(vals) / len(vals)}
    if kind == "sum_bucket":
        return {"value": sum(vals)}
    if kind == "min_bucket":
        return {"value": min(vals)}
    return {"value": max(vals)}


def _graft_sibling(
    p_env: dict, s_env: dict, levels_s: list, li: int, d: int
) -> None:
    """Copy a sibling chain's branch subtrees onto the primary
    response tree, matching buckets by key through the shared ancestor
    levels. The shared levels truncate identically in both assemblies
    (same counts, same metrics — :func:`_split_chains`), so a missing
    secondary bucket can only mean a defensive empty branch."""
    s_by_key = {b["key"]: b for b in s_env["buckets"]}
    child = levels_s[li + 1][0]
    for b in p_env["buckets"]:
        sb = s_by_key.get(b["key"])
        if li + 1 == d:
            b[child] = sb[child] if sb is not None else {"buckets": []}
        elif sb is not None:
            _graft_sibling(b[child], sb[child], levels_s, li + 1, d)


def _attach_chain_top_hits(
    df: DataFrame, frame: DataFrame, rows: list, tree: dict,
    levels: list, ths: dict
) -> None:
    """``top_hits`` at the DEEPEST level of a nested chain (Kibana's
    "top documents per group per bucket"). One window job per request: candidate rows are restricted
    to the RETURNED innermost buckets via a broadcast semi-join on the
    composite key (volume ≤ returned buckets × size — the response
    bound), with WindowGroupLimit pre-truncating per partition."""
    from pyspark.sql import Window
    from pyspark.sql.types import StructField, StructType

    targets: list[tuple[tuple, dict]] = []

    def walk(env: dict, li: int, path: tuple) -> None:
        for b in env["buckets"]:
            p = path + (b["key"],)
            if li + 1 < len(levels):
                walk(b[levels[li + 1][0]], li + 1, p)
            else:
                targets.append((p, b))

    walk(tree, 0, ())
    if not targets:
        return
    for th_name, th_body in ths.items():
        check_agg_keys("top_hits", th_body)
    # enveloped tree keys → the RAW composite keys, via the flat rows
    # (the envelope conversion is injective); gap-filled empty buckets
    # have no flat row and simply get empty hit arrays
    nk = len(levels)
    raw_by_env: dict[tuple, tuple] = {}
    for r in rows:
        env_t = tuple(_key_envelope(r[f"__k{j}"]) for j in range(nk))
        raw_by_env[env_t] = tuple(r[f"__k{j}"] for j in range(nk))
    keys = [raw_by_env[t] for t, _ in targets if t in raw_by_env]
    if not keys:
        for th_name, th_body in ths.items():
            for _, b in targets:
                b[th_name] = {"hits": {
                    "total": {"value": b["doc_count"], "relation": "eq"},
                    "hits": []}}
        return
    spark = df.sparkSession
    schema = StructType([
        StructField(f"__k{j}", frame.schema[f"__k{j}"].dataType)
        for j in range(nk)
    ])
    keys_df = local_frame(spark, keys, schema)
    key_exprs = [
        bucket_key(knd, bdy).alias(f"__k{j}")
        for j, (_, knd, bdy) in enumerate(levels)
    ]
    cand = df.select("*", *key_exprs).join(
        F.broadcast(keys_df), [f"__k{j}" for j in range(nk)], "leftsemi",
    )
    from sql_database_to_elastic_datalake_spark.plans.search import (
        resolve_source_columns,
    )

    for th_name, th_body in ths.items():
        size = _size(th_body, 3, "top_hits")
        order: list[Column] = []
        for s in th_body.get("sort") or []:
            if isinstance(s, str):
                field, direction = s, "asc"
            else:
                field, ospec = next(iter(s.items()))
                direction = (
                    ospec.get("order", "asc") if isinstance(ospec, dict)
                    else ospec
                )
            c = F.col(field)
            order.append(c.desc() if direction == "desc" else c.asc())
        order += [F.col(c).asc_nulls_first() for c in df.columns]
        w = Window.partitionBy(
            *[F.col(f"__k{j}") for j in range(nk)]).orderBy(*order)
        hit_rows = (
            cand.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= size)
            .collect()
        )
        th_src = resolve_source_columns(df.columns, th_body.get("_source"))
        by_key: dict[tuple, list] = {}
        for hr in hit_rows:
            env_t = tuple(_key_envelope(hr[f"__k{j}"]) for j in range(nk))
            by_key.setdefault(env_t, []).append({
                "_source": {c: hr[c] for c in df.columns if c in th_src}
            })
        for t, b in targets:
            b[th_name] = {"hits": {
                "total": {"value": b["doc_count"], "relation": "eq"},
                "hits": by_key.get(t, []),
            }}


def significant_terms_frame(
    fg: DataFrame, bg: DataFrame, body: dict
) -> DataFrame:
    """ES ``significant_terms``: terms overrepresented in the query
    scope (foreground) relative to the whole index (background) —
    Kibana's "significant keywords" panel. Scored with ES's DEFAULT
    JLH heuristic, computed EXACTLY: ``(fg% − bg%) · (fg% / bg%)``;
    only terms with fg% > bg% qualify (ES's posture), ordered
    score-desc with the usual deterministic key tie-break.

    Plan shape: one groupBy each over foreground and background (the
    background agg is the same cardinality class as a terms agg), an
    equi-join on the term, and two broadcast scalar totals — no
    corpus-sized shuffle beyond the two aggs. ``min_doc_count``
    defaults to 3 like ES."""
    check_agg_keys("significant_terms", body)
    field = body.get("field")
    if field is None:
        raise DslError("significant_terms requires a field")
    size = _size(body, 10, "significant_terms")
    min_dc = int(body.get("min_doc_count", 3))
    key = F.col(field)
    fgc = (fg.filter(key.isNotNull()).groupBy(key.alias("key"))
           .agg(F.count(F.lit(1)).alias("doc_count")))
    # ONE background pass: group WITHOUT the null filter so the total
    # doc count bt (which counts null-key docs too, ES's doc_count
    # basis) rides the grouped result as an unpartitioned-window sum —
    # term-cardinality rows, one single-partition gather, no second
    # background scan for that one scalar (a two-branch reuse fails:
    # the key-null filter pushes into one branch's scan and breaks
    # exchange-subtree identity).
    from pyspark.sql.window import Window as _W

    bgc = (
        bg.groupBy(key.alias("key"))
        .agg(F.count(F.lit(1)).alias("bg_count"))
        .withColumn("bt", F.sum("bg_count").over(
            _W.partitionBy()).cast("double"))
        .filter(F.col("key").isNotNull())
    )
    fgt = fg.agg(F.count(F.lit(1)).cast("double").alias("ft"))
    fg_pct = F.col("doc_count").cast("double") / F.col("ft")
    bg_pct = F.col("bg_count").cast("double") / F.col("bt")
    return (
        fgc.join(bgc, "key")
        .crossJoin(F.broadcast(fgt))
        .filter((F.col("doc_count") >= min_dc) & (fg_pct > bg_pct))
        .select(
            "key", "doc_count", "bg_count",
            ((fg_pct - bg_pct) * (fg_pct / bg_pct)).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("key").asc())
        .limit(size)
    )


def significant_text_frame(
    bg: DataFrame, fg_pred: Column, body: dict,
    bg_pred: Column | None = None,
) -> DataFrame:
    """ES ``significant_text``: tokens overrepresented in the query
    scope relative to the whole index — Kibana's text-analytics twin
    of ``significant_terms``, scored with the same exact JLH
    heuristic ``(fg% − bg%) · (fg% / bg%)``.

    Counting is DOC FREQUENCY like ES (each doc contributes once per
    distinct token — ``array_distinct`` before the explode), and both
    scopes ride ONE tokenized scan: the background table is tokenized
    once with the foreground predicate as a flag column, so the
    groupBy(token) emits the fg count (conditional sum) and the bg
    count (plain count) together — the foreground is never re-scanned
    and the tokenizer (the expensive part) runs once. The doc totals
    are a second, tokenizer-free count-only pass. No UDF anywhere:
    split/filter/array_distinct/explode are native expressions.
    ``min_doc_count`` defaults to 3 like ES.

    ``bg_pred`` is ES's ``background_filter``: the background
    scope narrows to rows matching it. The one-scan contract holds —
    the scan covers ``fg_pred OR bg_pred`` rows with TWO flag columns
    and the bg count becomes its own conditional sum."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        TOKEN_SPLIT_LOWER_RE,
    )

    check_agg_keys("significant_text", body)
    field = body.get("field")
    if field is None:
        raise DslError("significant_text requires a field")
    size = _size(body, 10, "significant_text")
    min_dc = int(body.get("min_doc_count", 3))
    toks = F.array_distinct(F.filter(
        F.split(F.lower(F.col(field).cast("string")),
                TOKEN_SPLIT_LOWER_RE),
        lambda t: t != ""))
    flag = F.coalesce(fg_pred, F.lit(False))
    bflag = F.lit(True) if bg_pred is None \
        else F.coalesce(bg_pred, F.lit(False))
    scan = bg if bg_pred is None else bg.filter(flag | bflag)
    counts = (
        scan.select(flag.alias("__fg"), bflag.alias("__bg"),
                    F.explode(toks).alias("key"))
        .groupBy("key")
        .agg(
            F.sum(F.when(F.col("__fg"), 1).otherwise(0))
            .cast("bigint").alias("doc_count"),
            F.sum(F.when(F.col("__bg"), 1).otherwise(0))
            .cast("bigint").alias("bg_count"),
        )
    )
    counts = counts.filter(F.col("bg_count") > 0)
    totals = scan.agg(
        F.sum(F.when(flag, 1).otherwise(0))
        .cast("double").alias("ft"),
        F.sum(F.when(bflag, 1).otherwise(0))
        .cast("double").alias("bt"),
    )
    fg_pct = F.col("doc_count").cast("double") / F.col("ft")
    bg_pct = F.col("bg_count").cast("double") / F.col("bt")
    return (
        counts.crossJoin(F.broadcast(totals))
        .filter((F.col("doc_count") >= min_dc) & (fg_pct > bg_pct))
        .select(
            "key", "doc_count", "bg_count",
            ((fg_pct - bg_pct) * (fg_pct / bg_pct)).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("key").asc())
        .limit(size)
    )


def categorize_text_frame(df: DataFrame, body: dict) -> DataFrame:
    """ES ``categorize_text`` (the ML log-pattern agg): group
    semi-structured messages by their token template.

    DOCUMENTED DIVERGENCE: ES's categorizer clusters messages
    incrementally against a similarity threshold (default 70) — the
    result depends on document order, and ES itself re-categorized
    existing data when the 8.3 algorithm changed. This engine
    implements the exact-template tier: two messages share a category
    iff their digit-free token sequences are IDENTICAL — the
    ``similarity_threshold: 100`` semantics, deterministic across
    engines and runs; an explicit threshold other than 100 is a named
    400, never a silent approximation. Matching ES's tokenizer
    contract: tokens containing any digit are the variable parts of a
    log line and are dropped from the template;
    ``categorization_filters`` (Java regexes) are stripped from the
    raw text first; messages whose template is empty (all-numeric
    lines) are uncategorizable and skipped, like ES.

    Plan: one tokenized scan → groupBy(template) where doc_count and
    ``max_matching_length`` (the longest raw message in the category;
    ES reports an analyzer-dependent estimate — documented) ride the
    same shuffle → min_doc_count filter → TakeOrdered(size)."""
    check_agg_keys("categorize_text", body)
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        TOKEN_SPLIT_LOWER_RE,
    )

    field = body.get("field")
    if field is None:
        raise DslError("categorize_text requires a field")
    size = _size(body, 10, "categorize_text")
    min_dc = int(body.get("min_doc_count", 1))
    thresh = body.get("similarity_threshold")
    if thresh is not None and thresh != 100:
        raise DslError(
            "categorize_text similarity_threshold below 100 needs ES's "
            "order-dependent incremental clustering — only the "
            "deterministic exact-template tier (100) is implemented")
    src = F.col(field).cast("string")
    filters = body.get("categorization_filters") or []
    if not isinstance(filters, list) or \
            not all(isinstance(p, str) for p in filters):
        raise DslError(
            "categorization_filters must be an array of regex strings")
    for pat in filters:
        src = F.regexp_replace(src, pat, "")
    toks = F.filter(
        F.split(F.lower(src), TOKEN_SPLIT_LOWER_RE),
        lambda t: (t != "") & ~t.rlike("[0-9]"),
    )
    return (
        df.filter(F.col(field).isNotNull())
        .select(
            F.array_join(toks, " ").alias("key"),
            F.length(F.col(field).cast("string")).alias("len"),
        )
        .filter(F.col("key") != "")
        .groupBy("key")
        .agg(
            F.count("*").cast("bigint").alias("doc_count"),
            F.max("len").cast("bigint").alias("max_matching_length"),
        )
        .filter(F.col("doc_count") >= min_dc)
        .orderBy(F.col("doc_count").desc(), F.col("key").asc())
        .limit(size)
    )


#: frequent_item_sets bounds: distinct frequent sets surviving the
#: support filter (driver closed-set filter is quadratic per count
#: class) and items per row (subset enumeration is 2^n per row)
_FIS_BUDGET = 10_000
_FIS_MAX_ITEMS = 12
_FIS_SEP = "\x1f"


def _any_col(conds: list[Column]) -> Column:
    """OR-fold a non-empty Column list."""
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


def frequent_item_sets_result(df: DataFrame, body: dict) -> list[dict]:
    """ES ``frequent_item_sets`` (8.4+): closed sets of field values
    that co-occur in at least ``minimum_support`` of the documents —
    market-basket mining over index fields.

    DOCUMENTED DIVERGENCE: ES mines per-shard with a sampled eclat
    variant and flags its own results as approximate; this engine is
    exact and deterministic. Semantics kept: items are (field, value)
    pairs (array fields contribute one item per element), support
    counts DOCUMENTS, only CLOSED sets return (no superset has the
    same doc_count), sets smaller than ``minimum_set_size`` are
    dropped, top ``size`` by doc_count (key ascending on ties — ES
    leaves ties unspecified; fixed order is the determinism contract).

    Plan, scalar fields (the common form): the subsets of a row's
    basket are exactly the 2^F grouping sets, so ONE ``cube()`` —
    a single Expand + a single groupBy, fully JVM-side with native
    column keys — counts every candidate set; cube-NULL vs value-NULL
    separate via ``grouping()`` (a genuinely NULL value's item is
    absent from the basket and its groups drop). Plan, array fields:
    one scan builds each row's sorted distinct item array and a
    generator enumerates that row's subset bitmasks IN-ROW (bounded:
    > {max_items} items per row is a named 400 raised executor-side
    inside the same job — 2^n subsets per row is the algorithm, the
    bound makes it explicit, and baskets past a dozen distinct items
    want a dedicated FP-growth job, not an aggregation request),
    then one groupBy on the itemset array. Both paths: the support
    filter prunes BEFORE the budget-bounded collect; the closed-set
    filter runs driver-side within equal-count classes (only they can
    tie). Candidate counts are bounded by the support threshold
    exactly as in Apriori — every frequent set's subsets are
    frequent, so nothing below the threshold survives to the
    driver."""
    check_agg_keys("frequent_item_sets", body)
    fields = body.get("fields")
    if not isinstance(fields, list) or not fields or not all(
            isinstance(f, dict) and f.get("field") for f in fields):
        raise DslError(
            "frequent_item_sets requires fields: [{field: name}, ...]")
    names = [str(f["field"]) for f in fields]
    for f in fields:
        extra = sorted(set(f) - {"field"})
        if extra:
            raise DslError(
                f"unsupported frequent_item_sets field options: {extra}")
    min_size = body.get("minimum_set_size", 1)
    if not isinstance(min_size, int) or isinstance(min_size, bool) \
            or min_size < 1:
        raise DslError(
            "frequent_item_sets minimum_set_size must be a positive "
            "integer")
    min_support = body.get("minimum_support", 0.1)
    if not isinstance(min_support, (int, float)) \
            or isinstance(min_support, bool) \
            or not (0 < float(min_support) <= 1):
        raise DslError(
            "frequent_item_sets minimum_support must be in (0, 1]")
    size = _size(body, 10, "frequent_item_sets")

    from pyspark.sql.types import ArrayType

    dts = {}
    for nm in names:
        try:
            dts[nm] = df.schema[nm].dataType
        except KeyError:
            raise DslError(
                f"frequent_item_sets: unknown field {nm!r}") from None
    total = df.count()
    if total == 0:
        return []
    if not any(isinstance(dt, ArrayType) for dt in dts.values()):
        # SCALAR FAST PATH: with one item per field, the subsets of a
        # row's basket are exactly the 2^F grouping sets — Spark's
        # cube() computes them all in ONE Expand + ONE groupBy, fully
        # JVM-side, no per-row item arrays or bitmask generators. A
        # cube NULL means "field not in this grouping set"; grouping()
        # separates it from a genuinely NULL value (whose item is
        # absent from the basket — those groups drop, same semantics
        # as the array path's missing item).
        gflags = [F.grouping(nm).alias(f"__g{i}")
                  for i, nm in enumerate(names)]
        grouped = df.cube(*names).agg(
            F.count("*").cast("bigint").alias("doc_count"), *gflags)
        included = [F.col(f"__g{i}") == 0 for i in range(len(names))]
        set_size = sum(
            F.when(c, 1).otherwise(0) for c in included)
        null_value = [inc & F.col(nm).isNull()
                      for inc, nm in zip(included, names)]
        item_strs = [
            F.when(inc, F.concat(F.lit(nm + _FIS_SEP),
                                 F.col(nm).cast("string")))
            for inc, nm in zip(included, names)
        ]
        cand = (
            grouped
            .filter(set_size >= min_size)
            .filter(~_any_col(null_value))
            .select(
                F.array_sort(F.filter(
                    F.array(*item_strs), lambda x: x.isNotNull()
                )).alias("itemset"),
                "doc_count",
            )
            .filter(F.col("doc_count").cast("double")
                    / F.lit(float(total)) >= F.lit(float(min_support)))
        )
        rows = cand.limit(_FIS_BUDGET + 1).collect()
    else:
        item_cols = []
        for nm in names:
            c = F.col(nm)
            tag = F.lit(nm + _FIS_SEP)
            if isinstance(dts[nm], ArrayType):
                # a NULL array value must contribute NO items, not
                # null the whole basket: flatten() returns NULL when
                # any nested array is NULL, which would drop the row's
                # items from its OTHER fields too (ES treats a missing
                # field as absent-from-basket, same as the cube path)
                item_cols.append(F.coalesce(
                    F.transform(
                        F.filter(c, lambda x: x.isNotNull()),
                        lambda x: F.concat(tag, x.cast("string"))),
                    F.array().cast("array<string>")))
            else:
                item_cols.append(
                    F.when(c.isNotNull(),
                           F.array(F.concat(tag, c.cast("string"))))
                    .otherwise(F.array().cast("array<string>")))
        items = F.array_sort(F.array_distinct(
            F.flatten(F.coalesce(F.array(*item_cols),
                                 F.array().cast("array<array<string>>")))))
        # the per-row item cap rides INSIDE the candidate job via
        # raise_error (no separate full scan just to check it — the
        # items expression is the expensive part of every pass)
        overflow = F.raise_error(F.lit(
            f"frequent_item_sets over rows with more than "
            f"{_FIS_MAX_ITEMS} distinct items — subset enumeration is "
            "2^n per row; reduce the field list or pre-bucket the "
            "values")).cast("int")
        base = (
            df.select(items.alias("items"))
            .withColumn("n", F.size("items"))
            .filter(F.col("n") >= min_size)
            .withColumn(
                "n",
                F.when(F.col("n") <= _FIS_MAX_ITEMS, F.col("n"))
                .otherwise(overflow),
            )
        )
        cand = (
            base.select(
                "items",
                F.explode(F.expr(
                    "sequence(1, shiftleft(1, n) - 1)"
                )).alias("mask"),
            )
            .filter(F.bit_count("mask") >= min_size)
            .selectExpr("filter(items, (x, i) -> getbit(mask, i) = 1) "
                        "AS itemset")
            .groupBy("itemset")
            .agg(F.count("*").cast("bigint").alias("doc_count"))
            .filter(F.col("doc_count").cast("double")
                    / F.lit(float(total)) >= F.lit(float(min_support)))
        )
        try:
            rows = cand.limit(_FIS_BUDGET + 1).collect()
        except Exception as ex:  # executor-side cap → the named 400
            if f"more than {_FIS_MAX_ITEMS} distinct items" in str(ex):
                raise DslError(
                    f"frequent_item_sets over rows with more than "
                    f"{_FIS_MAX_ITEMS} distinct items — subset "
                    "enumeration is 2^n per row; reduce the field "
                    "list or pre-bucket the values") from None
            raise
    if len(rows) > _FIS_BUDGET:
        raise DslError(
            f"frequent_item_sets exceeds {_FIS_BUDGET} frequent sets — "
            "raise minimum_support or minimum_set_size")
    by_count: dict[int, list[frozenset]] = {}
    for r in rows:
        by_count.setdefault(r["doc_count"], []).append(
            frozenset(r["itemset"]))
    buckets = []
    for r in rows:
        s = frozenset(r["itemset"])
        if any(s < other for other in by_count[r["doc_count"]]):
            continue  # an equal-count superset exists: not closed
        key: dict[str, list[str]] = {}
        for item in sorted(s):
            fld, val = item.split(_FIS_SEP, 1)
            key.setdefault(fld, []).append(val)
        buckets.append({
            "key": key,
            "doc_count": int(r["doc_count"]),
            "support": r["doc_count"] / total,
        })
    buckets.sort(key=lambda b: (
        -b["doc_count"],
        ",".join(f"{f}={v}" for f in sorted(b["key"])
                 for v in b["key"][f]),
    ))
    return buckets[:size]


def sampler_scope(
    df: DataFrame, body: dict, diversified: bool = False
) -> DataFrame:
    """The sampled scope for ``sampler`` / ``diversified_sampler`` —
    ES's cost-bounding wrapper around ``significant_*``/``terms`` on
    big indices: sub-aggs see at most ``shard_size`` docs.

    DOCUMENTED DIVERGENCE: ES keeps the top-SCORING ``shard_size``
    docs per shard; this engine's filter context is score-free and
    shard counts are an execution detail, so the sample is the
    ``shard_size`` docs with the smallest md5 of the table's lead
    tie-break column (the :func:`deterministic_sample` convention) —
    deterministic across engines, runs, and repartitioning, which ES's
    per-shard sample is not. The plan is one TakeOrdered of
    ``shard_size`` rows — the sample is bounded however big the
    corpus, which is the whole point of the agg.

    ``diversified_sampler`` adds ``field`` + ``max_docs_per_value``
    (default 1, like ES): a window row_number per field value keeps
    the cap BEFORE the TakeOrdered; docs with a null field value
    bypass the cap (no value to deduplicate on).

    The sample is MATERIALIZED as a local relation (one collect of
    ≤ shard_size rows — ES buffers its sample in memory per shard the
    same way, BestDocsDeferringCollector), so however many sub-aggs
    consume it, the corpus is scanned exactly once; ``shard_size`` is
    budget-capped like the other driver-side envelopes."""
    from sql_database_to_elastic_datalake_spark.operators.similarity import (
        tiebreak_columns,
    )

    kind = "diversified_sampler" if diversified else "sampler"
    check_agg_keys(kind, body)
    shard_size = body.get("shard_size", 100)
    if not isinstance(shard_size, int) or isinstance(shard_size, bool) \
            or shard_size <= 0:
        raise DslError(f"{kind} shard_size must be a positive integer")
    if shard_size > _SAMPLER_BUDGET:
        raise DslError(
            f"{kind} shard_size {shard_size} exceeds the "
            f"{_SAMPLER_BUDGET} budget (the agg exists to bound "
            "sub-agg cost; raise the budget deliberately, not the "
            "sample)")
    keys = tiebreak_columns(df)
    if not keys:
        raise DslError(f"{kind} needs an orderable column")
    rank = F.md5(F.col(keys[0]).cast("string"))
    scoped = df
    if diversified:
        field = body.get("field")
        if field is None:
            raise DslError("diversified_sampler requires a field")
        m = body.get("max_docs_per_value", 1)
        if not isinstance(m, int) or isinstance(m, bool) or m <= 0:
            raise DslError(
                "diversified_sampler max_docs_per_value must be a "
                "positive integer")
        from pyspark.sql.window import Window

        w = (Window.partitionBy(F.col(field))
             .orderBy(rank.asc(), F.col(keys[0]).asc()))
        scoped = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col(field).isNull() | (F.col("__rn") <= m))
            .drop("__rn")
        )
    page = scoped.orderBy(rank.asc(), F.col(keys[0]).asc()) \
        .limit(int(shard_size))
    return local_frame(df.sparkSession, page.collect(), page.schema)


def filters_frame(
    df: DataFrame,
    body: dict,
    sub_aggs: dict | None = None,
    schema_fields: list[str] | None = None,
) -> DataFrame:
    """ES ``filters`` (plural) aggregation — Kibana's named-bucket
    panel: one bucket per named query-DSL predicate, all computed in
    ONE conditional-aggregation job (a column set per filter rides a
    single pass, no per-filter scan). ``other_bucket`` adds the
    matched-by-none bucket (null-safe negation). Metric sub-aggs gate
    per filter in the same job."""
    specs = body.get("filters")
    anon = isinstance(specs, list)
    if anon:
        specs = {str(i): s for i, s in enumerate(specs)}
    if not isinstance(specs, dict) or not specs:
        raise DslError(
            "filters aggregation requires a non-empty filters "
            "object or list"
        )
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import _ns

    preds = {
        name: compile_dsl(dsl, schema_fields=schema_fields)
        for name, dsl in specs.items()
    }
    if body.get("other_bucket") or body.get("other_bucket_key"):
        other = F.lit(True)
        for p in preds.values():
            other = other & ~_ns(p)
        preds[str(body.get("other_bucket_key", "_other_"))] = other
    cols: list[Column] = []
    for name, pred in preds.items():
        cols.append(_count_if(pred).alias(f"{name} doc_count"))
        cols.extend(_metric_cols(sub_aggs, f"{name} ", gate=pred))
    return df.agg(*cols)


def filter_frame(
    df: DataFrame,
    body: dict,
    sub_aggs: dict | None = None,
    schema_fields: list[str] | None = None,
) -> DataFrame:
    """``filter`` agg: doc_count + metric sub-aggs under a query-DSL
    predicate, via the same compiler the search path uses — one
    conditional-aggregation job, no second scan of the matched set."""
    pred = compile_dsl(body, schema_fields=schema_fields)
    return df.agg(_count_if(pred).alias("doc_count"),
                  *_metric_cols(sub_aggs, gate=pred))


def _key_envelope(v) -> Any:
    """Bucket keys in the ES response: timestamps become epoch millis
    with a key_as_string twin; everything else passes through."""
    if isinstance(v, _dt.datetime):
        return int(v.replace(tzinfo=_dt.timezone.utc).timestamp() * 1000)
    return v


#: Java DateTimeFormatter letter-runs with implemented strftime twins.
_JAVA_FMT = {"yyyy": "%Y", "yy": "%y", "MM": "%m", "dd": "%d",
             "HH": "%H", "mm": "%M", "ss": "%S"}

_JAVA_RUN_RE = re.compile(r"([A-Za-z])\1*|'([^']*)'|([^A-Za-z']+)")


def _java_to_strftime(fmt: str) -> str:
    """The common Java date-pattern subset (``yyyy-MM-dd HH:mm:ss`` and
    friends) → strftime. A letter run outside the implemented set is a
    named 400 — honoring ``format`` partially would silently change
    ``key_as_string`` (an accepted-and-ignored knob)."""
    out: list[str] = []
    pos = 0
    for m in _JAVA_RUN_RE.finditer(fmt):
        if m.start() != pos:
            raise DslError(f"malformed date format {fmt!r}")
        pos = m.end()
        if m.group(1) is not None:
            run = m.group(0)
            if run not in _JAVA_FMT:
                raise DslError(
                    f"unsupported date format token {run!r} in {fmt!r} "
                    f"(supported: {sorted(_JAVA_FMT)}, epoch_millis, "
                    "epoch_second, date, date_optional_time)"
                )
            out.append(_JAVA_FMT[run])
        elif m.group(2) is not None:
            out.append(m.group(2).replace("%", "%%"))
        else:
            out.append(m.group(3).replace("%", "%%"))
    if pos != len(fmt):
        raise DslError(f"malformed date format {fmt!r}")
    return "".join(out)


def _key_as_string(k: _dt.datetime, body: dict) -> str:
    """ES ``key_as_string``: rendered in the request ``time_zone``
    (Kibana labels buckets with it) and honoring ``format`` — named ES
    formats plus the Java-pattern subset (:func:`_java_to_strftime`).
    The numeric ``key`` stays the UTC epoch-millis instant like ES."""
    tz = _check_time_zone(body.get("time_zone"))
    local = k
    if tz:
        from zoneinfo import ZoneInfo

        local = k.replace(tzinfo=_dt.timezone.utc).astimezone(ZoneInfo(tz))
    fmt = body.get("format")
    if fmt is None or fmt in ("date_optional_time",
                              "strict_date_optional_time"):
        return local.isoformat()
    if fmt == "epoch_millis":
        return str(_key_envelope(k))
    if fmt == "epoch_second":
        return str(_key_envelope(k) // 1000)
    if fmt == "date" or fmt == "strict_date":
        return local.strftime("%Y-%m-%d")
    return local.strftime(_java_to_strftime(str(fmt)))


def _top_metrics_spec(body: dict) -> tuple[list[str], str, str, int]:
    """Validate a ``top_metrics`` body → (metric fields, sort field,
    direction, size). ES allows exactly one sort clause here; ``size``
    defaults to 1 (Lens's "last value")."""
    m = body.get("metrics")
    specs = m if isinstance(m, list) else [m]
    fields: list[str] = []
    for s in specs:
        if not isinstance(s, dict) or not s.get("field"):
            raise DslError(
                "top_metrics metrics must be {field: …} entries")
        fields.append(str(s["field"]))
    sort = body.get("sort")
    if isinstance(sort, (str, dict)):
        sort = [sort]
    if not isinstance(sort, list) or len(sort) != 1:
        raise DslError("top_metrics requires exactly one sort clause")
    clause = sort[0]
    if isinstance(clause, str):
        sf, sd = clause, "asc"
    elif isinstance(clause, dict) and len(clause) == 1:
        sf, spec = next(iter(clause.items()))
        sd = spec.get("order", "asc") if isinstance(spec, dict) \
            else spec
    else:
        raise DslError(f"malformed top_metrics sort {clause!r}")
    if sd not in ("asc", "desc"):
        raise DslError(f"unknown top_metrics sort order {sd!r}")
    return fields, str(sf), sd, _size(body, 1, "top_metrics", lo=1)


def _top_metrics_rows(rows, fields: list[str], sf: str) -> list[dict]:
    return [
        {"sort": [_key_envelope(r[sf])],
         "metrics": {f: r[f] for f in fields}}
        for r in rows
    ]


def _strip_nested_prefix(path: str, sub_aggs: dict | None) -> dict:
    """Rewrite nested-context sub-agg bodies so field refs drop the
    ``path.`` prefix (ES addresses nested fields by full path; after
    the explode they are plain element columns). A field outside the
    path is a named error — ES's nested context cannot see parent
    fields either."""
    out: dict = {}
    for name, spec in (sub_aggs or {}).items():
        kind = _agg_kind(spec, name)
        body = spec[kind]
        if not isinstance(body, dict) or not body.get("field"):
            raise DslError(
                f"nested sub-aggregation {name!r} ({kind}) requires a "
                "field"
            )
        field = str(body["field"])
        if not field.startswith(path + "."):
            raise DslError(
                f"nested sub-aggregation {name!r} must address fields "
                f"under {path!r} (got {field!r})"
            )
        out[name] = {**spec, kind: {**body, "field": field[len(path) + 1:]}}
    return out


def _nested_agg(scope: _Scope, name: str, body: dict, sub: dict) -> dict:
    """The ES ``nested`` aggregation: switch scope to the elements of
    an array-of-struct column. Spark shape: ONE explode (a generator,
    no shuffle) carrying a parent row id; ``doc_count`` (total nested
    docs) rides the sub-agg job as an Observation — no extra pass.

    Supported inside: metric sub-aggs on ``path.field`` columns, and
    ONE ``terms`` bucket whose own sub-aggs may be metrics plus
    ``reverse_nested`` (doc_count = parents with >=1 element in the
    bucket — a count_distinct on the parent id riding the same
    groupBy). Deeper nesting is a named error.

    Reference parity: the reference stores labels nested under
    tickets (src/sync_service.py label embedding) and its saved
    queries facet on them — this is the aggs half of the existing
    ``nested`` query leaf (plans/es_dsl.py)."""
    from pyspark.sql import Observation
    from pyspark.sql.types import ArrayType, StructType

    if not isinstance(body, dict) or not body.get("path"):
        raise DslError("nested aggregation requires a path")
    df, path = scope.df, str(body["path"])
    try:
        ftype = df.schema[path].dataType
    except KeyError:
        # ES: nested on an unmapped path aggregates nothing
        return {"doc_count": 0}
    if not (isinstance(ftype, ArrayType)
            and isinstance(ftype.elementType, StructType)):
        raise DslError(
            f"nested path {path!r} is not an array-of-object column")
    if "__pid" in df.columns or "__pid" in ftype.elementType.names:
        raise DslError("nested path collides with the reserved __pid")
    ex = (
        df.withColumn("__pid", F.monotonically_increasing_id())
        .select("__pid", F.explode(path).alias("__e"))
        .select("__pid", F.col("__e.*"))
    )
    terms, metrics = _pick(sub, ("terms",))
    if len(terms) > 1:
        raise DslError(
            "one bucket sub-aggregation per nested scope is supported")
    for name, spec in metrics.items():
        if not _rides_job(spec):
            raise DslError(
                f"unsupported sub-aggregation kind {_agg_kind(spec)!r} "
                "under nested (metrics, or one terms bucket)")
    obs = Observation()
    exo = ex.observe(obs, F.count(F.lit(1)).alias("n"))
    if not terms:
        mstripped = _strip_nested_prefix(path, metrics)
        if not mstripped:
            return {"doc_count": ex.count()}
        row = exo.agg(*_metric_cols(mstripped)).collect()[0]
        return {**_metric_envelope(row, mstripped), "doc_count": obs.get["n"]}
    if metrics:
        raise DslError(
            "metrics beside a terms bucket inside nested are not "
            "supported (put them under the terms bucket)"
        )
    ((bucket_name, tspec),) = terms.items()
    tbody = dict(tspec["terms"])
    tfield = str(tbody.get("field", ""))
    if not tfield.startswith(path + "."):
        raise DslError(
            f"nested terms must address fields under {path!r} "
            f"(got {tfield!r})"
        )
    tbody["field"] = tfield[len(path) + 1:]
    reverse, tmetrics = _pick(_subs(tspec), ("reverse_nested",))
    tmetrics = _strip_nested_prefix(path, tmetrics)
    min_dc = int(tbody.get("min_doc_count", 1))
    key = bucket_key("terms", tbody)
    grouped = (
        exo.filter(key.isNotNull())
        .groupBy(key.alias("key"))
        .agg(F.count(F.lit(1)).alias("doc_count"),
             *[F.count_distinct(F.col("__pid")).alias(f"__rn|{r}")
               for r in reverse],
             *_metric_cols(tmetrics))
    )
    if min_dc > 1:
        grouped = grouped.filter(F.col("doc_count") >= min_dc)
    rows = grouped.orderBy(*_terms_order(tbody, tmetrics)).limit(
        _size(tbody, 10, "terms")).collect()
    buckets = []
    for r in rows:
        b = _bucket(r, tmetrics)
        for rn in reverse:
            b[rn] = {"doc_count": r[f"__rn|{rn}"]}
        buckets.append(b)
    return {"doc_count": obs.get["n"], bucket_name: {
        "doc_count_error_upper_bound": 0, "buckets": buckets}}


def _strip_meta(sub_aggs):
    """Drop ``meta`` keys from sub-agg specs recursively — accepted
    and ignored below the top level (it is pure client metadata; the
    top-level echo is the part Kibana reads back)."""
    if not isinstance(sub_aggs, dict):
        return sub_aggs
    out = {}
    for name, spec in sub_aggs.items():
        if isinstance(spec, dict):
            spec = {k: (_strip_meta(v) if k in ("aggs", "aggregations")
                        else v)
                    for k, v in spec.items() if k != "meta"}
        out[name] = spec
    return out


def _rides_job(spec, gated: bool = False) -> bool:
    """True when the spec compiles to aggregate Columns of its parent's
    job: a metric kind (the top-level fused job, children/parent), or
    under a ``gated`` filter/filters agg also a filter, which gates its
    own metric sub-aggs."""
    entry = _KINDS.get(_agg_kind(spec))
    return entry is not None and entry.metric is not None \
        and (gated or not entry.subs)


def _pick(sub: dict, kinds) -> tuple[dict, dict]:
    """Split sub-aggs into (those of ``kinds``, the rest), order kept;
    the picked specs' keys and sub-aggregations are validated."""
    picked = {n: s for n, s in sub.items() if _agg_kind(s) in kinds}
    for n, s in picked.items():
        kind = _agg_kind(s)
        check_agg_keys(kind, s[kind])
        _check_subs(n, kind, _subs(s))
    return picked, {n: s for n, s in sub.items() if n not in picked}


def _bucket(r, sub: dict, key=None) -> dict:
    """One bucket of a grouped frame: key, doc_count, metric sub-aggs."""
    return {"key": _key_envelope(r["key"]) if key is None else key,
            "doc_count": r["doc_count"], **_metric_envelope(r, sub)}


def _apply_moving_percentiles(
    df: DataFrame, kind: str, body: dict, sub: dict,
    rows: list, buckets: list, movpct: dict,
) -> None:
    """ES ``moving_percentiles`` under a (date_)histogram: per bucket, the percentiles of the raw values in the
    sliding bucket window ``[i - window + shift, i + shift)`` — the
    same window convention as ``moving_fn``.

    ES merges the window's per-bucket t-digests; this engine computes
    the EXACT interpolated percentile over the same value set — the
    same documented exactness divergence (strictly more accurate) the
    ``percentiles`` metric carries. ``buckets_path`` must name a
    sibling ``percentiles`` sub-agg (ES's contract), whose field and
    percents configure the pipeline.

    Spark shape — one auxiliary job, in-plan: each row joins its
    bucket ORDINAL (a bucket-count-sized broadcast), explodes into
    the ≤``window`` target ordinals it contributes to, and one
    groupBy computes every percentile per target. Window semantics
    are over bucket POSITIONS (ES's), so gap-filled zero buckets
    count as positions. The explode factor is the window length —
    bounded, never corpus²."""
    from pyspark.sql.types import LongType, StructField, StructType

    keys = [r["key"] for r in rows]
    key_col = bucket_key(kind, body)
    for pname, spec in movpct.items():
        pb = spec["moving_percentiles"]
        window = pb.get("window")
        if isinstance(window, bool) or not isinstance(window, int) \
                or window < 1:
            raise DslError(
                "moving_percentiles requires a positive integer "
                "window")
        shift = int(pb.get("shift", 0))
        ref = str(pb.get("buckets_path", ""))
        target = sub.get(ref)
        if not (isinstance(target, dict)
                and _agg_kind(target) == "percentiles"):
            raise DslError(
                "moving_percentiles buckets_path must name a sibling "
                f"percentiles sub-aggregation (got {ref!r})")
        tbody = target["percentiles"]
        if tbody.get("field") is None:
            raise DslError(
                "moving_percentiles needs a field-sourced "
                "percentiles target (script sources are not "
                "re-readable here)")
        percents = [float(p)
                    for p in tbody.get("percents", _DEFAULT_PERCENTS)]
        if not keys:
            continue
        src = _metric_source(tbody)
        spark = df.sparkSession
        # Arrow-backed like every other local relation (localrel.py);
        # the key type comes from the frame the keys were read from,
        # so the broadcast-join key matches without inference.
        kdf = local_frame(
            spark, [(k, i) for i, k in enumerate(keys)],
            StructType([
                df.select(key_col.alias("__mp_key")).schema[0],
                StructField("__mp_j", LongType()),
            ]))
        contrib = (
            df.filter(key_col.isNotNull() & src.isNotNull())
            .select(key_col.alias("__mp_key"),
                    src.cast("double").alias("__mp_v"))
            .join(F.broadcast(kdf), on="__mp_key")
            # row in bucket j contributes to every window position
            # i with i-window+shift <= j < i+shift
            .select(
                F.explode(F.sequence(
                    F.col("__mp_j") - F.lit(shift) + F.lit(1),
                    F.col("__mp_j") - F.lit(shift) + F.lit(window),
                )).alias("__mp_i"),
                "__mp_v")
            .filter((F.col("__mp_i") >= 0)
                    & (F.col("__mp_i") <= len(keys) - 1))
        )
        agg = contrib.groupBy("__mp_i").agg(
            *[F.percentile(F.col("__mp_v"), F.lit(p / 100.0))
              .alias(f"p{j}") for j, p in enumerate(percents)])
        got = {int(r["__mp_i"]):
               {str(p): r[f"p{j}"] for j, p in enumerate(percents)}
               for r in agg.collect()}
        for i, b in enumerate(buckets):
            if i in got:
                b[pname] = {"values": got[i]}


def _apply_cumulative_cardinality(
    df: DataFrame, kind: str, body: dict, sub: dict,
    buckets: list, cum_cards: dict,
) -> None:
    """ES ``cumulative_cardinality`` under a (date_)histogram — EXACT,
    via the first-occurrence histogram instead of ES's merged HLL
    sketches (the same exactness divergence as ``cardinality``).

    The running distinct count at bucket *i* equals the number of
    values whose FIRST bucket is ≤ *i* — so one value-level groupBy
    (min bucket per value) plus one tiny bucket-level groupBy replace
    any per-bucket distinct state. Two shuffles, both shrinking:
    value-cardinality then bucket-cardinality rows. At 100 TB the
    value groupBy is the same shuffle a plain cardinality would need;
    nothing about the cumulative form adds state.

    ``buckets_path`` must name a sibling ``cardinality`` sub-agg (ES's
    contract); the pipeline re-reads that agg's FIELD, so a
    script-sourced cardinality is a named 400. ``min_doc_count`` > 1
    drops non-empty buckets, which would silently desync the running
    count from ES (a value first seen in a dropped bucket still rides
    later sketches there) — named 400."""
    mdc = body.get("min_doc_count")
    if mdc is not None and int(mdc) > 1:
        raise DslError(
            "cumulative_cardinality under min_doc_count > 1 is "
            "unimplemented (dropped buckets would desync the running "
            "distinct count)"
        )
    key = bucket_key(kind, body)
    for pname, spec in cum_cards.items():
        pb = spec["cumulative_cardinality"]
        path = str(pb.get("buckets_path") or "")
        target = sub.get(path)
        if target is None or _agg_kind(target) != "cardinality":
            raise DslError(
                f"cumulative_cardinality buckets_path must name a "
                f"sibling cardinality sub-agg (got {path!r})"
            )
        cb = target["cardinality"]
        field = cb.get("field")
        if field is None:
            raise DslError(
                "cumulative_cardinality over a script-sourced "
                "cardinality is unimplemented"
            )
        firsts = (
            df.filter(key.isNotNull() & F.col(field).isNotNull())
            .groupBy(F.col(field).alias("__v"))
            .agg(F.min(key).alias("__k"))
            .groupBy("__k")
            .agg(F.count(F.lit(1)).alias("__n"))
            .collect()
        )
        by_key = {_key_envelope(r["__k"]): int(r["__n"]) for r in firsts}
        run = 0
        for b in buckets:
            run += by_key.get(b["key"], 0)
            b[pname] = {"value": run}


class _Scope(NamedTuple):
    """The context a handler runs in: the matched frame, the schema
    fields, the unfiltered table and the predicate that produced the
    frame from it (significant_*), the join-field relation context
    (children/parent), and the envelopes computed so far at this level
    (sibling pipelines read them)."""
    df: DataFrame
    schema_fields: Any
    background: DataFrame | None
    background_pred: Column | None
    relation_ctx: tuple | None
    siblings: dict


def _narrowed(scope: _Scope, frame: DataFrame, sub: dict, **kw) -> dict:
    """A bucket over a narrowed frame — range bands with sub-trees,
    filter(s) with bucket subs, global, sampler, children/parent: its
    doc_count (one count job) plus the sub-aggs run recursively over
    the frame, keeping the schema and background unless ``kw``
    overrides them."""
    env = {"doc_count": frame.count()}
    if sub:
        env.update(run_aggs(frame, sub, **{
            "schema_fields": scope.schema_fields,
            "background": scope.background, **kw}))
    return env


def _has_level_subs(sub: dict) -> bool:
    return any(_agg_kind(s) in _LEVEL_KINDS for s in sub.values())


def _chain_agg(scope: _Scope, name: str, kind: str, body: dict,
               sub: dict) -> dict:
    """A multi-level bucket chain: ONE shuffle PER LEAF CHAIN on its
    composite key, the tree assembled from the flat frame(s). Sibling
    bucket sub-aggs become separate chains whose assemblies truncate
    the shared ancestor levels identically (same metrics ride every
    chain), then graft onto one response tree by bucket key. Each
    collect is HARD-BOUNDED: limit(B+1) caps the transfer and the
    overflow is a named error, not a driver OOM."""
    trees = []
    for levels, per_level, ths in _split_chains(name, kind, body, sub):
        frame = nested_levels_frame(scope.df, levels, per_level)
        rows = frame.limit(_NESTED_FLAT_BUDGET + 1).collect()
        if len(rows) > _NESTED_FLAT_BUDGET:
            raise DslError(
                f"nested aggregation {name!r} produces more than "
                f"{_NESTED_FLAT_BUDGET} flat buckets before terms-size "
                "truncation — narrow the levels or use a composite "
                "aggregation (the paged bucket API) for unbounded key "
                "domains"
            )
        tree = _assemble_levels(rows, levels, per_level, 0)
        if ths:
            _attach_chain_top_hits(scope.df, frame, rows, tree, levels, ths)
        trees.append((levels, tree))
    primary, merged = trees[0]
    for levels_s, tree_s in trees[1:]:
        d = next(i for i in range(min(len(primary), len(levels_s)))
                 if primary[i][0] != levels_s[i][0])
        _graft_sibling(merged, tree_s, levels_s, 0, d)
    return merged


def _hits_by_key(df: DataFrame, body: dict, rows: list,
                 hits_body: dict) -> dict:
    """Per returned ``terms`` bucket, its top rows (the window top-k
    of :func:`top_hits_frame`), keyed like the bucket envelopes
    (``_key_envelope``: datetime → epoch millis); a null field value
    belongs to the ``missing`` bucket."""
    hit_rows = top_hits_frame(df, bucket_key("terms", body),
                              [r["key"] for r in rows], hits_body).collect()
    by_key: dict = {}
    for hr in hit_rows:
        raw = hr[body["field"]]
        if raw is None:
            raw = body.get("missing")
        by_key.setdefault(_key_envelope(raw), []).append(hr)
    return by_key


def _terms_agg(scope: _Scope, name: str, body: dict, sub: dict) -> dict:
    """``terms``: TakeOrdered(size) buckets with their metric subs in one
    job, ``sum_other_doc_count`` from one count job, then per-bucket
    ``top_hits`` / ``top_metrics`` (one window job each) and parent
    pipelines over the returned buckets."""
    if _has_level_subs(sub):
        return _chain_agg(scope, name, "terms", body, sub)
    from sql_database_to_elastic_datalake_spark.plans.search import (
        resolve_source_columns,
    )

    df = scope.df
    hits, sub = _pick(sub, ("top_hits",))
    tops, sub = _pick(sub, ("top_metrics",))
    pipes, metrics = _pick(sub, _PARENT_PIPELINES)
    rows = terms_frame(df, body, metrics).collect()
    # bucket_key, not the raw column: a `missing` value means null-key
    # docs belong to a bucket and count in the total; include/exclude
    # scopes the total the same way it scopes the buckets
    key = bucket_key("terms", body)
    pred = key.isNotNull()
    ie = _include_exclude_pred(key, body)
    if ie is not None:
        pred = pred & ie
    total = df.filter(pred).count()
    buckets = [_bucket(r, metrics) for r in rows]
    for hname, hspec in hits.items():
        hbody = hspec["top_hits"]
        by_key = _hits_by_key(df, body, rows, hbody)
        # `_source` restricts the RETURNED fields; the frame keeps
        # every column so the bucket key stays readable
        src = resolve_source_columns(df.columns, hbody.get("_source"))
        for b in buckets:
            b[hname] = {"hits": {
                "total": {"value": b["doc_count"], "relation": "eq"},
                "hits": [{"_source": {c: hr[c] for c in hr.asDict()
                                      if c != "__rn" and c in src}}
                         for hr in by_key.get(b["key"], [])],
            }}
    for tname, tspec in tops.items():
        # Lens's "last value per bucket": the top_hits window plan
        # projected to the sort + metric fields
        fields, sf, sd, size = _top_metrics_spec(tspec["top_metrics"])
        by_key = _hits_by_key(df.filter(F.col(sf).isNotNull()), body, rows,
                              {"size": size, "sort": [{sf: sd}]})
        for b in buckets:
            b[tname] = {"top": _top_metrics_rows(
                by_key.get(b["key"], []), fields, sf)}
    if pipes:
        # the script family runs over the RETURNED buckets, like ES's
        # reduce phase; the running family names its error
        buckets = _apply_parent_pipelines(buckets, pipes, ordered=False)
    return {
        "doc_count_error_upper_bound": 0,  # exact (divergence note)
        "sum_other_doc_count": int(total - sum(r["doc_count"] for r in rows)),
        "buckets": buckets,
    }


def _histogram_agg(kind: str, scope: _Scope, name: str, body: dict,
                   sub: dict) -> dict:
    """``histogram`` / ``date_histogram``: one groupBy (gap-filled in
    plan for ``min_doc_count: 0``), then the per-bucket pipelines.

    ``rate`` (date_histogram only, ES's constraint) rides the frame as
    its sum/value_count component and divides by bucket span / unit
    driver-side, where the bucket key — so the CALENDAR span (28 vs
    31-day months, DST days) — is known. ``moving_percentiles`` is one
    auxiliary explode+groupBy job; ``cumulative_cardinality`` two
    shrinking groupBys, applied before the generic pipelines so a
    bucket_script can read the running count."""
    if _has_level_subs(sub):
        return _chain_agg(scope, name, kind, body, sub)
    df = scope.df
    pipes, sub = _pick(sub, _PARENT_PIPELINES)
    cards, sub = _pick(sub, ("cumulative_cardinality",))
    rates, sub = _pick(sub, ("rate",))
    movpct, sub = _pick(sub, ("moving_percentiles",))
    if rates and kind != "date_histogram":
        raise DslError(
            "rate can only be used inside a date_histogram aggregation "
            "(ES's own constraint)")
    comps: dict[str, str | None] = {}
    for n, s in rates.items():
        mode = s["rate"].get("mode", "sum")
        if mode not in ("sum", "value_count"):
            raise DslError(f"unknown rate mode {mode!r}")
        comps[n] = None  # doc_count-based rate
        if s["rate"].get("field") is not None:
            # a synthetic component name that never shadows a user agg
            comps[n] = f"__rate_{n}"
            while comps[n] in sub:
                comps[n] = f"_{comps[n]}"
            sub[comps[n]] = {mode: {"field": s["rate"]["field"]}}
    rows = histogram_frame(df, kind, body, sub).collect()
    # hide ONLY the tracked synthetic components (a user sub-agg
    # literally named "__rate_x" stays visible)
    shown = {n: s for n, s in sub.items() if n not in comps.values()}
    buckets = []
    for r in rows:
        b = _bucket(r, shown)
        if isinstance(r["key"], _dt.datetime):
            b["key_as_string"] = _key_as_string(r["key"], body)
        for n, comp in comps.items():
            raw = float(r["doc_count"] if comp is None else r[comp] or 0.0)
            unit = rates[n]["rate"].get("unit")
            if unit is None:
                # ES default: the rate unit IS the bucket interval
                b[n] = {"value": raw}
            else:
                span = _bucket_span_seconds(r["key"], body)
                b[n] = {"value": raw * _rate_unit_seconds(unit) / span
                        if span else 0.0}
        buckets.append(b)
    if movpct:
        _apply_moving_percentiles(df, kind, body, sub, rows, buckets, movpct)
    if cards:
        _apply_cumulative_cardinality(df, kind, body, sub, buckets, cards)
    if pipes:
        buckets = _apply_parent_pipelines(buckets, pipes, ordered=True)
    return _render_buckets(buckets, body, ranged=False)


def _range_agg(is_date: bool, scope: _Scope, name: str, body: dict,
               sub: dict) -> dict:
    """``range`` / ``date_range``: all bands in one conditional-aggregate
    job; with sub-aggs (plain ``range`` only — Kibana's banded
    drill-down) each band recurses over its predicate, ES's cost."""
    if sub:
        ranges = _ranges(body, "range")
        c = F.col(body["field"])
        buckets = []
        for r in ranges:
            env = _narrowed(scope, scope.df.filter(_band_pred(c, r)), sub)
            buckets.append({**_band(r, env.pop("doc_count")), **env})
        return _render_buckets(buckets, body, ranged=True)
    row = range_frame(scope.df, body, is_date=is_date).collect()[0]

    def as_date(v):
        d = (_dt.datetime.fromtimestamp(v / 1000, _dt.timezone.utc)
             .replace(tzinfo=None) if isinstance(v, (int, float))
             else _dt.datetime.fromisoformat(str(v)))
        return _key_envelope(d), _key_as_string(d, body)

    return _render_buckets(
        [_band(r, row[f"band{i}.doc_count"], as_date if is_date else None)
         for i, r in enumerate(body["ranges"])], body, ranged=True)


def _ip_range_agg(scope: _Scope, name: str, body: dict, sub: dict) -> dict:
    """``ip_range``: each band [from, to) or CIDR mask becomes two
    numeric comparisons over the parsed long, all bands in ONE
    conditional-count job. ES semantics: from inclusive, to exclusive,
    mask = [network, network + 2^(32-prefix)) with host bits masked
    off. IPv6 literals are named 400s (128-bit arithmetic, unbuilt)."""
    from sql_database_to_elastic_datalake_spark.functions.ip import (
        int_to_ipv4,
        ip_to_long,
        ipv4_to_int,
        parse_cidr,
    )

    bands = []  # (band entry, lo, hi)
    for r in _ranges(body, "ip_range"):
        unknown = sorted(set(r) - {"from", "to", "mask", "key"})
        if unknown:
            raise DslError(f"unsupported ip_range entry keys: {unknown}")
        try:
            if "mask" not in r:
                lo, hi = (ipv4_to_int(r[e]) if r.get(e) is not None
                          else None for e in ("from", "to"))
                bands.append((r, lo, hi))
                continue
            if "from" in r or "to" in r:
                raise DslError(
                    "an ip_range entry takes mask OR from/to, not both")
            lo, hi = parse_cidr(r["mask"])
        except ValueError as ex:
            raise DslError(str(ex)) from None
        bands.append(({"from": int_to_ipv4(lo),
                       "to": int_to_ipv4(hi) if hi <= 0xFFFFFFFF else None,
                       "key": r.get("key", str(r["mask"]))}, lo, hi))
    ipn = ip_to_long(F.col(body["field"]).cast("string"))
    row = scope.df.agg(*[
        _count_if(_band_pred(ipn, {"from": lo, "to": hi})).alias(f"band{i}")
        for i, (_, lo, hi) in enumerate(bands)]).collect()[0]
    return _render_buckets([_band(r, row[f"band{i}"])
                            for i, (r, _, _) in enumerate(bands)],
                           body, ranged=True)


def _geo_distance_agg(scope: _Scope, name: str, body: dict,
                      sub: dict) -> dict:
    """``geo_distance`` rings, rewritten into the range handler over a
    materialized haversine column — keyed form, sub-aggregations and
    the band envelope come from the one implementation. Distances and
    from/to are in the requested ES unit (agg default: metres)."""
    from sql_database_to_elastic_datalake_spark.functions.geo import (
        haversine_km,
        parse_distance_km,
    )
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        _geo_field_cols,
        _parse_geo_point,
    )

    df = scope.df
    if not body.get("field"):
        raise DslError("geo_distance requires a field")
    if body.get("origin") is None:
        raise DslError("geo_distance requires an origin")
    if body.get("distance_type", "arc") != "arc":
        raise DslError(
            "unsupported geo_distance distance_type "
            f"{body['distance_type']!r} (arc only)")
    ranges = _ranges(body, "geo_distance")
    unit = body.get("unit", "m")
    try:
        per_unit_km = parse_distance_km(f"1{unit}")
    except ValueError:
        raise DslError(f"unknown geo_distance unit {unit!r}") from None
    plat, plon = _parse_geo_point(body["origin"])
    fields = scope.schema_fields or df.columns
    lat_c, lon_c = _geo_field_cols(body["field"], F.col, fields,
                                   schema=df.schema)
    tmp = "__geo_distance_band"
    scoped = df.withColumn(
        tmp, haversine_km(lat_c, lon_c, F.lit(plat), F.lit(plon))
        * F.lit(1.0 / per_unit_km))
    inner = {"field": tmp, "ranges": ranges,
             **({"keyed": body["keyed"]} if "keyed" in body else {})}
    return _range_agg(False, scope._replace(
        df=scoped, schema_fields=[*fields, tmp], background_pred=None,
        relation_ctx=None, siblings={}), name, inner, sub)


def _geo_grid_agg(kind: str, default: int, lo: int, hi: int,
                  scope: _Scope, name: str, body: dict, sub: dict) -> dict:
    """``geohash_grid`` / ``geotile_grid``: per-cell doc counts — the
    cell is EXACT bit arithmetic (functions/geo.py), one groupBy
    shuffle, buckets by (doc_count desc, key asc) like ES. geohash
    stops at precision 8 (9+ exceeds the exact-arithmetic cell width
    this engine guarantees); geotile ``bounds`` is result-changing and
    unlisted, so a named 400."""
    from sql_database_to_elastic_datalake_spark.functions import geo
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        _geo_field_cols,
    )

    if not body.get("field"):
        raise DslError(f"{kind} requires a field")
    precision = body.get("precision", default)
    if isinstance(precision, bool) or not isinstance(precision, int) \
            or not lo <= precision <= hi:
        raise DslError(
            f"{kind} precision must be an integer in [{lo}, {hi}]")
    size = _size(body, 10000, kind, lo=1)
    df = scope.df
    lat_c, lon_c = _geo_field_cols(
        body["field"], F.col, scope.schema_fields or df.columns,
        schema=df.schema)
    cell = getattr(geo, kind.removesuffix("_grid"))
    rows = (
        df.filter(lat_c.isNotNull() & lon_c.isNotNull())
        .groupBy(cell(lat_c, lon_c, precision).alias("key"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.col("doc_count").desc(), F.col("key").asc())
        .limit(size)
        .collect()
    )
    return {"buckets": [{"key": r["key"], "doc_count": r["doc_count"]}
                        for r in rows]}


def _composite_agg(scope: _Scope, name: str, body: dict, sub: dict) -> dict:
    rows = composite_frame(scope.df, body, sub).collect()
    names = [next(iter(s)) for s in body["sources"]]
    buckets = [_bucket(r, sub, {n: _key_envelope(r[n]) for n in names})
               for r in rows]
    env: dict[str, Any] = {"buckets": buckets}
    if buckets and len(rows) == _size(body, 10, "composite"):
        # a full page may have more behind it: hand back the
        # resumption cursor exactly like ES
        env["after_key"] = buckets[-1]["key"]
    return env


def _filters_agg(scope: _Scope, name: str, body: dict, sub: dict) -> dict:
    """``filters``: one conditional-aggregation job when every sub-agg
    rides it (metric subs gated per filter); bucket sub-trees recurse
    per filter over its compiled predicate instead."""
    specs = body.get("filters")
    anon = isinstance(specs, list)
    other = body.get("other_bucket") or body.get("other_bucket_key")
    if all(_rides_job(s, gated=True) for s in sub.values()):
        row = filters_frame(scope.df, body, sub,
                            scope.schema_fields).collect()[0]
        names = [str(i) for i in range(len(specs))] if anon else list(specs)
        if other:
            names.append(str(body.get("other_bucket_key", "_other_")))
        envs = {nm: {"doc_count": row[f"{nm} doc_count"],
                     **_metric_envelope(row, sub, f"{nm} ")}
                for nm in names}
    else:
        if other:
            raise DslError(
                "other_bucket with bucket sub-aggregations is not "
                "supported"
            )
        named = dict(enumerate(specs)) if anon else specs or {}
        envs = {str(nm): _narrowed(scope, scope.df.filter(compile_dsl(
                    q, schema_fields=scope.schema_fields)), sub)
                for nm, q in named.items()}
    return {"buckets": list(envs.values()) if anon else envs}


def _filter_agg(scope: _Scope, name: str, body: dict, sub: dict) -> dict:
    """``filter``: one conditional-aggregation job with its metric
    subs; bucket sub-aggs recurse over the filtered scope — one extra
    job per sub-tree, exactly ES's cost."""
    if all(_rides_job(s, gated=True) for s in sub.values()):
        row = filter_frame(scope.df, body, sub,
                           scope.schema_fields).collect()[0]
        return {"doc_count": row["doc_count"], **_metric_envelope(row, sub)}
    return _narrowed(scope, scope.df.filter(compile_dsl(
        body, schema_fields=scope.schema_fields)), sub)


def _global_agg(scope: _Scope, name: str, body: dict, sub: dict) -> dict:
    """ES's global bucket: sub-aggs see the WHOLE index, not the query
    scope — faceted navigation's "totals" column."""
    if scope.background is None:
        raise DslError(
            "global needs the unfiltered table — this entry point has no "
            "table context (use /search/advanced, which passes it)"
        )
    if body not in ({}, None):
        raise DslError("global takes no options")
    return _narrowed(scope, scope.background, sub)


def _sample_pred(scoped: DataFrame) -> Column | None:
    """The membership predicate of a materialized sample inside its
    background table, so a significant_text foreground flag stays one
    tokenized scan: an ``isin`` on a unique ``id``; otherwise the FULL
    atomic tiebreak tuple (the lead key may be a non-unique foreign key,
    whose isin would count background rows sharing it), width-bounded
    — past the bound None, and significant_* names its 400."""
    from pyspark.sql.types import ArrayType, BinaryType, StructType

    from sql_database_to_elastic_datalake_spark.operators.similarity import (
        tiebreak_columns,
    )

    keys = tiebreak_columns(scoped)
    if not keys:
        return None
    if keys[0] == "id":
        vals = [r["id"] for r in scoped.select("id").collect()]
        return F.col("id").isin(vals) if vals else F.lit(False)
    atomic = [c for c in keys if not isinstance(
        scoped.schema[c].dataType, (ArrayType, StructType, BinaryType))]
    if not atomic:
        return None
    rows = scoped.select(*atomic).collect()
    if not rows:
        return F.lit(False)
    if len(rows) * len(atomic) > 20_000:
        return None
    pred = None
    for r in rows:
        conj = None
        for c in atomic:
            eq = F.col(c).eqNullSafe(F.lit(r[c]))
            conj = eq if conj is None else conj & eq
        pred = conj if pred is None else pred | conj
    return pred


def _sampler_agg(kind: str, scope: _Scope, name: str, body: dict,
                 sub: dict) -> dict:
    """``sampler`` / ``diversified_sampler``: sub-aggs see at most
    ``shard_size`` docs of the query scope (:func:`sampler_scope` — the
    deterministic-hash divergence is documented there)."""
    scoped = sampler_scope(scope.df, body,
                           diversified=kind == "diversified_sampler")
    pred = _sample_pred(scoped) if sub and scope.background is not None \
        and scoped.columns else None
    return _narrowed(scope, scoped, sub, background_pred=pred)


def _adjacency_matrix_agg(scope: _Scope, name: str, body: dict,
                          sub: dict) -> dict:
    """Pairwise filter intersections (the Kibana graph panel): N(N+1)/2
    conditional counts in ONE job; empty intersections are omitted
    like ES."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import _ns

    specs = body.get("filters")
    if not isinstance(specs, dict) or not specs:
        raise DslError("adjacency_matrix requires a named filters object")
    sep = str(body.get("separator", "&"))
    # null-safe: a NULL predicate (missing field) must count as
    # no-match, not poison the pairwise AND
    preds = {n: _ns(compile_dsl(q, schema_fields=scope.schema_fields))
             for n, q in specs.items()}
    names = sorted(preds)
    cells = []
    for i, a in enumerate(names):
        cells.append((a, preds[a]))
        cells += [(f"{a}{sep}{b}", preds[a] & preds[b])
                  for b in names[i + 1:]]
    row = scope.df.agg(*[_count_if(p).alias(f"am|{n}")
                         for n, p in cells]).collect()[0]
    return {"buckets": [{"key": n, "doc_count": row[f"am|{n}"]}
                        for n, _ in cells if row[f"am|{n}"]]}


def _top_metrics_agg(scope: _Scope, name: str, body: dict,
                     sub: dict) -> dict:
    """The doc(s) with the extreme sort value: ONE TakeOrdered (docs
    missing the sort field are skipped, like ES)."""
    fields, sf, sd, size = _top_metrics_spec(body)
    rows = (
        scope.df.filter(F.col(sf).isNotNull())
        .select(*dict.fromkeys([sf, *fields]))
        .orderBy(F.col(sf).desc() if sd == "desc" else F.col(sf).asc())
        .limit(size).collect()
    )
    return {"top": _top_metrics_rows(rows, fields, sf)}


def _mad_agg(scope: _Scope, name: str, body: dict, sub: dict) -> dict:
    """Exact median absolute deviation: the median first, so two jobs
    by construction (ES's t-digest avoids that — the percentiles
    exactness divergence)."""
    src = _metric_source(body)
    med = scope.df.agg(F.percentile(src, F.lit(0.5)).alias("m")) \
        .collect()[0]["m"]
    if med is None:
        return {"value": None}
    return {"value": scope.df.agg(F.percentile(
        F.abs(src - F.lit(med)), F.lit(0.5)).alias("m")).collect()[0]["m"]}


def _boxplot_agg(scope: _Scope, name: str, body: dict, sub: dict) -> dict:
    r = boxplot_frame(scope.df, body).collect()[0]
    return {k: r[k] for k in ("min", "max", "q1", "q2", "q3", "lower",
                              "upper")}


def _multi_terms_agg(scope: _Scope, name: str, body: dict,
                     sub: dict) -> dict:
    rows = multi_terms_frame(scope.df, body, sub).collect()
    kn = [f"k{i}" for i in range(len(body["terms"]))]
    return {"buckets": [
        {**_bucket(r, sub, [_key_envelope(r[k]) for k in kn]),
         "key_as_string": "|".join(str(r[k]) for k in kn)}
        for r in rows
    ]}


def _rare_terms_agg(scope: _Scope, name: str, body: dict,
                    sub: dict) -> dict:
    rows = rare_terms_frame(scope.df, body) \
        .limit(_RARE_TERMS_BUDGET + 1).collect()
    if len(rows) > _RARE_TERMS_BUDGET:
        raise DslError(
            f"rare_terms returns more than {_RARE_TERMS_BUDGET} buckets — "
            "raise max_doc_count selectivity or filter the scope"
        )
    return {"buckets": [{"key": _key_envelope(r["key"]),
                         "doc_count": r["doc_count"]} for r in rows]}


def _vwh_agg(scope: _Scope, name: str, body: dict, sub: dict) -> dict:
    return {"buckets": [
        {"min": r["min"], "key": r["key"], "max": r["max"],
         "doc_count": r["doc_count"]}
        for r in variable_width_histogram_frame(scope.df, body).collect()
    ]}


def _categorize_text_agg(scope: _Scope, name: str, body: dict,
                         sub: dict) -> dict:
    return {"buckets": [
        {"key": r["key"], "doc_count": r["doc_count"],
         "regex": ".*?" + ".*?".join(
             re.escape(t) for t in r["key"].split(" ")) + ".*?",
         "max_matching_length": r["max_matching_length"]}
        for r in categorize_text_frame(scope.df, body).collect()
    ]}


def _auto_date_histogram_agg(scope: _Scope, name: str, body: dict,
                             sub: dict) -> dict:
    frame, label = auto_date_histogram_plan(scope.df, body, sub)
    rows = frame.collect() if frame is not None else []
    return {"buckets": [{**_bucket(r, sub),
                         "key_as_string": _key_as_string(r["key"], body)}
                        for r in rows],
            "interval": label}


def _significant_env(df: DataFrame, bg: DataFrame, rows: list) -> dict:
    """The significant_terms / significant_text envelope: scope and
    background doc counts (one count job each) plus the scored
    buckets."""
    return {"doc_count": df.count(), "bg_count": bg.count(), "buckets": [
        {"key": _key_envelope(r["key"]), "doc_count": r["doc_count"],
         "bg_count": r["bg_count"], "score": r["score"]} for r in rows]}


def _significant_terms_agg(scope: _Scope, name: str, body: dict,
                           sub: dict) -> dict:
    if scope.background is None:
        raise DslError(
            "significant_terms needs the background set — this entry "
            "point has no table context (use /search/advanced, which "
            "passes it)"
        )
    bg = scope.background
    if body.get("background_filter") is not None:
        # ES's background_filter narrows the contrast scope
        bg = bg.filter(compile_dsl(body["background_filter"],
                                   schema_fields=scope.schema_fields))
        body = {k: v for k, v in body.items() if k != "background_filter"}
    rows = significant_terms_frame(scope.df, bg, body).collect()
    return _significant_env(scope.df, bg, rows)


def _significant_text_agg(scope: _Scope, name: str, body: dict,
                          sub: dict) -> dict:
    if scope.background is None or scope.background_pred is None:
        raise DslError(
            "significant_text needs the background set and the query "
            "predicate — this entry point has no table context (use "
            "/search/advanced, which passes both)"
        )
    bg_pred = None
    if body.get("background_filter") is not None:
        bg_pred = compile_dsl(body["background_filter"],
                              schema_fields=scope.schema_fields)
        body = {k: v for k, v in body.items() if k != "background_filter"}
    rows = significant_text_frame(scope.background, scope.background_pred,
                                  body, bg_pred=bg_pred).collect()
    return _significant_env(scope.df, scope.background if bg_pred is None
                            else scope.background.filter(bg_pred), rows)


def _relation_agg(kind: str, scope: _Scope, name: str, body: dict,
                  sub: dict) -> dict:
    """``children`` / ``parent``: scope-switch across the declared
    join-field relation — ``children`` moves the agg scope from matched
    parents to their child rows, ``parent`` from matched children to
    their parents. ONE distinct-key semi-join (pinned shuffle_hash like
    the has_child/has_parent leaves); metric-only sub-aggs share one
    job with the doc_count, others recurse over the switched frame."""
    from sql_database_to_elastic_datalake_spark.plans.join_field import (
        RELATIONS,
        _match_side,
    )

    if scope.relation_ctx is None:
        raise DslError(
            f"the {kind} aggregation needs table context (the search "
            "route passes it; this entry point compiles single-table "
            "aggs only)")
    table, load_sibling = scope.relation_ctx
    type_name = body.get("type")
    if not isinstance(type_name, str) or not type_name:
        raise DslError(f"{kind} aggregation requires a 'type' string")
    rel = next((r for r in RELATIONS if r["child"] == type_name), None)
    side = rel and _match_side(
        table, rel["parent" if kind == "children" else "child"])
    if rel is None or side is None:
        raise DslError(
            f"no join-field relation maps the {kind} aggregation type "
            f"{type_name!r} onto table {table!r}")
    target = side + (rel["child"] if kind == "children" else rel["parent"])
    other = load_sibling(target)
    if other is None:
        raise DslError(
            f"{kind} aggregation type {type_name!r} resolves to table "
            f"{target!r}, which does not exist")
    here, there = (("parent_key", "child_key") if kind == "children"
                   else ("child_key", "parent_key"))
    keys = (scope.df.select(F.col(rel[here]).alias("__rel_k"))
            .filter(F.col("__rel_k").isNotNull()).distinct())
    scoped = other.join(keys.hint("shuffle_hash"),
                        on=F.col(rel[there]) == F.col("__rel_k"),
                        how="left_semi")
    if all(_rides_job(s) for s in sub.values()):
        # doc_count rides the metrics job: ONE run of the semi-join
        row = scoped.agg(
            F.count(F.lit(1)).cast("bigint").alias("__rel_doc_count"),
            *_metric_cols(sub)).collect()[0]
        return {"doc_count": int(row["__rel_doc_count"]),
                **_metric_envelope(row, sub)}
    return _narrowed(scope, scoped, sub, schema_fields=scoped.schema,
                     background=scoped,
                     relation_ctx=(target, load_sibling))


class _Metric(NamedTuple):
    """How a metric kind rides a parent's aggregation job: ``parts(body,
    gate, sub) → [(suffix, Column)]`` builds its columns (restricted to
    ``gate``'s rows when given) and ``read(row, prefix, body, sub)``
    rebuilds its ES envelope from them."""
    parts: Callable
    read: Callable


class _Kind(NamedTuple):
    """One aggregation kind. ``keys``: the accepted body keys (None —
    the body is query DSL or validates itself). ``handler``: ``(scope,
    name, body, sub) → envelope`` where the kind runs its own plan
    (None — valid only inside a parent: top_hits, rate, parent
    pipelines, reverse_nested). ``subs``: takes sub-aggregations.
    ``metric``: rides its parent's job (fused at top level unless it
    takes subs — the filter gate). ``deferred``: runs after its
    siblings, over their envelopes (sibling pipelines)."""
    keys: set | None
    handler: Callable | None = None
    subs: bool = False
    metric: _Metric | None = None
    deferred: bool = False


def _sibling_pipeline(kind: str, *keys: str) -> _Kind:
    return _Kind({"buckets_path", "gap_policy", *keys},
                 lambda scope, name, body, sub: _sibling_pipeline_envelope(
                     kind, body, scope.siblings), deferred=True)


#: the metric body keys: a field or script source plus ES's missing
#: substitution
_METRIC_KEYS = {"field", "missing", "script"}

#: every aggregation kind the compiler knows (see :class:`_Kind`)
_KINDS: dict[str, _Kind] = {
    # metrics — one shared job at top level, riding a bucket's job
    # below it; exact where ES approximates (precision_threshold and
    # MAD/boxplot `compression` are accepted-and-ignored)
    **{k: _Kind(_METRIC_KEYS, metric=_single(fn))
       for k, fn in _METRICS.items()},
    "cardinality": _Kind({*_METRIC_KEYS, "precision_threshold"},
                         metric=_single(F.count_distinct)),
    "stats": _Kind(_METRIC_KEYS, metric=_Metric(_stats_parts, _stats_read)),
    "extended_stats": _Kind({*_METRIC_KEYS, "sigma"}, metric=_Metric(
        _extended_stats_parts, _extended_stats_read)),
    "percentiles": _Kind({*_METRIC_KEYS, "percents"}, metric=_Metric(
        _percentiles_parts, _percentiles_read)),
    "percentile_ranks": _Kind({*_METRIC_KEYS, "values"}, metric=_Metric(
        _percentile_ranks_parts, _percentile_ranks_read)),
    "missing": _Kind({"field"}, metric=_Metric(
        _missing_parts, lambda row, p, body, _: {"doc_count": row[p]})),
    "weighted_avg": _Kind({"value", "weight"}, metric=_Metric(
        _weighted_avg_parts, _weighted_avg_read)),
    "scripted_metric": _Kind(None, metric=_Metric(
        _scripted_metric_parts, _read_value)),
    # single-plan metrics (top level only)
    "median_absolute_deviation": _Kind(
        {*_METRIC_KEYS, "compression"}, _mad_agg),
    "boxplot": _Kind({*_METRIC_KEYS, "compression"}, _boxplot_agg),
    "string_stats": _Kind(
        {"field", "missing", "show_distribution"},
        lambda scope, name, body, sub: _string_stats_envelope(scope.df, body)),
    "t_test": _Kind({"a", "b", "type"}, lambda scope, name, body, sub:
                    _t_test_envelope(scope.df, body)),
    # `mode` (multi-valued field reduction) has no meaning over scalar
    # columns: a named 400, not an accepted-and-diverging knob
    "matrix_stats": _Kind({"fields", "missing"}, lambda scope, name, body,
                          sub: _matrix_stats_envelope(scope.df, body)),
    "top_metrics": _Kind({"metrics", "sort", "size"}, _top_metrics_agg),
    "geo_bounds": _Kind({"field", "wrap_longitude"}, lambda scope, name,
                        body, sub: _geo_bounds_envelope(
                            scope.df, body, scope.schema_fields)),
    "geo_centroid": _Kind({"field"}, lambda scope, name, body, sub:
                          _geo_centroid_envelope(
                              scope.df, body, scope.schema_fields)),
    "geo_line": _Kind({"point", "sort", "include_sort", "sort_order",
                       "size"}, lambda scope, name, body, sub:
                      _geo_line_envelope(scope.df, body, scope.schema_fields)),
    # buckets
    "terms": _Kind({"field", "size", "missing", "min_doc_count", "order",
                    "include", "exclude", "shard_size",
                    "show_term_doc_count_error", "collect_mode",
                    "execution_hint"}, _terms_agg, subs=True),
    "multi_terms": _Kind({"terms", "size", "min_doc_count", "order",
                          "shard_size", "show_term_doc_count_error",
                          "collect_mode"}, _multi_terms_agg, subs=True),
    # exact where ES approximates with a CuckooFilter (`precision`
    # accepted-and-ignored)
    "rare_terms": _Kind({"field", "max_doc_count", "missing", "include",
                         "exclude", "precision"}, _rare_terms_agg),
    # JLH over terms / over the TOKENS of an analyzed field;
    # filter_duplicate_text is a named 400, not a silent drop
    "significant_terms": _Kind(
        {"field", "size", "min_doc_count", "shard_size",
         "shard_min_doc_count", "background_filter"},
        _significant_terms_agg),
    "significant_text": _Kind(
        {"field", "size", "min_doc_count", "shard_size",
         "shard_min_doc_count", "background_filter"},
        _significant_text_agg),
    "categorize_text": _Kind({"field", "size", "min_doc_count",
                              "similarity_threshold",
                              "categorization_filters", "shard_size"},
                             _categorize_text_agg),
    "frequent_item_sets": _Kind(
        {"fields", "minimum_set_size", "minimum_support", "size"},
        lambda scope, name, body, sub: {
            "buckets": frequent_item_sets_result(scope.df, body)}),
    "histogram": _Kind({"field", "interval", "min_doc_count",
                        "extended_bounds", "offset", "keyed"},
                       partial(_histogram_agg, "histogram"), subs=True),
    "date_histogram": _Kind({"field", "calendar_interval", "fixed_interval",
                             "min_doc_count", "extended_bounds", "format",
                             "time_zone", "offset", "keyed"},
                            partial(_histogram_agg, "date_histogram"),
                            subs=True),
    "auto_date_histogram": _Kind({"field", "buckets", "minimum_interval",
                                  "format"}, _auto_date_histogram_agg,
                                 subs=True),
    # initial_buffer/shard_size tune ES's approximation — ignored here
    "variable_width_histogram": _Kind(
        {"field", "buckets", "initial_buffer", "shard_size"}, _vwh_agg),
    "range": _Kind({"field", "ranges", "keyed"},
                   partial(_range_agg, False), subs=True),
    "date_range": _Kind({"field", "ranges", "keyed", "format"},
                        partial(_range_agg, True)),
    "ip_range": _Kind({"field", "ranges", "keyed"}, _ip_range_agg),
    "geo_distance": _Kind({"field", "origin", "ranges", "unit",
                           "distance_type", "keyed"}, _geo_distance_agg,
                          subs=True),
    "filter": _Kind(None, _filter_agg, subs=True,
                    metric=_Metric(_filter_parts, _filter_read)),
    "filters": _Kind({"filters", "other_bucket", "other_bucket_key"},
                     _filters_agg, subs=True),
    "adjacency_matrix": _Kind({"filters", "separator"},
                              _adjacency_matrix_agg),
    "composite": _Kind({"sources", "size", "after"}, _composite_agg,
                       subs=True),
    "geohash_grid": _Kind({"field", "precision", "size", "shard_size"},
                          partial(_geo_grid_agg, "geohash_grid", 5, 1, 8)),
    "geotile_grid": _Kind({"field", "precision", "size", "shard_size"},
                          partial(_geo_grid_agg, "geotile_grid", 7, 0, 29)),
    "global": _Kind(set(), _global_agg, subs=True),
    "sampler": _Kind({"shard_size"}, partial(_sampler_agg, "sampler"),
                     subs=True),
    "diversified_sampler": _Kind(
        {"shard_size", "field", "max_docs_per_value", "execution_hint"},
        partial(_sampler_agg, "diversified_sampler"), subs=True),
    "nested": _Kind({"path"}, _nested_agg, subs=True),
    "reverse_nested": _Kind(set()),
    "children": _Kind({"type"}, partial(_relation_agg, "children"),
                      subs=True),
    "parent": _Kind({"type"}, partial(_relation_agg, "parent"), subs=True),
    "top_hits": _Kind({"size", "sort", "_source"}),
    # pipelines: driver-side transforms over computed bucket lists — no
    # extra job. gap_policy "skip" (ES's default) is the only policy
    # implemented; bucket_script/bucket_selector run a SAFE arithmetic
    # evaluator, never eval(); normalize's `format` is unimplemented
    **{k: _sibling_pipeline(k) for k in ("avg_bucket", "sum_bucket",
                                         "min_bucket", "max_bucket",
                                         "stats_bucket")},
    "percentiles_bucket": _sibling_pipeline("percentiles_bucket",
                                            "percents"),
    "extended_stats_bucket": _sibling_pipeline("extended_stats_bucket",
                                               "sigma"),
    "cumulative_sum": _Kind({"buckets_path"}),
    "derivative": _Kind({"buckets_path", "gap_policy"}),
    "bucket_script": _Kind({"buckets_path", "script", "gap_policy"}),
    "bucket_selector": _Kind({"buckets_path", "script", "gap_policy"}),
    "bucket_sort": _Kind({"sort", "from", "size", "gap_policy"}),
    "moving_fn": _Kind({"buckets_path", "script", "window", "shift",
                        "gap_policy"}),
    "serial_diff": _Kind({"buckets_path", "lag", "gap_policy"}),
    "moving_percentiles": _Kind({"buckets_path", "window", "shift"}),
    "normalize": _Kind({"buckets_path", "method"}),
    "cumulative_cardinality": _Kind({"buckets_path"}),
    # `unit` beyond week is a named 400 (calendar units have no fixed
    # second count; calendar bucket SPANS are handled)
    "rate": _Kind({"field", "unit", "mode"}),
}


def run_aggs(
    df: DataFrame,
    aggs: dict,
    schema_fields: list[str] | None = None,
    background: DataFrame | None = None,
    background_pred: Column | None = None,
    relation_ctx: tuple | None = None,
) -> dict:
    """Execute an ES ``aggs`` section and assemble the documented
    response envelope: ``{name: {"buckets": [...]}}`` for bucket aggs,
    ``{name: {"value": v}}`` / stats object for metrics.

    Every top-level metric rides ONE fused aggregation job; every other
    agg runs its :data:`_KINDS` handler; sibling pipelines run last,
    over the computed envelopes (ES resolves buckets_path the same
    way, whatever the body order); ``meta`` echoes verbatim.

    ``background`` is the UNFILTERED table — ``significant_terms``
    contrasts the matched scope against it (the API layer passes the
    table's full DataFrame). ``background_pred`` is the predicate
    that produced ``df`` FROM ``background`` — ``significant_text``
    needs it to count both scopes in one tokenized scan (a flag
    column beats re-tokenizing the foreground)."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        _norm_schema_fields,
    )

    if not isinstance(aggs, dict):
        raise DslError("aggs must be an object")
    out: dict[str, Any] = {}
    scope = _Scope(df, _norm_schema_fields(schema_fields), background,
                   background_pred, relation_ctx, out)
    fused = {n: s for n, s in aggs.items() if _rides_job(s)}
    if fused:
        row = df.agg(*_metric_cols(fused)).collect()[0]
        out.update(_metric_envelope(row, fused))
    deferred = []
    for name, spec in aggs.items():
        if name in fused:
            continue
        kind = _agg_kind(spec, name)
        entry = _KINDS.get(kind)
        if entry is None or entry.handler is None:
            raise DslError(f"unsupported aggregation kind {kind!r}")
        # sub-agg `meta` is accepted-and-ignored (pure client metadata)
        sub = _strip_meta(_subs(spec))
        _check_subs(name, kind, sub)
        check_agg_keys(kind, spec[kind])
        if entry.deferred:
            deferred.append((name, entry.handler, spec[kind]))
        else:
            out[name] = entry.handler(scope, name, spec[kind], sub)
    for name, handler, body in deferred:
        out[name] = handler(scope, name, body, {})
    # echo `meta` verbatim like ES (Kibana reads it back to map
    # responses to panels)
    for name, spec in aggs.items():
        if isinstance(spec, dict) and "meta" in spec \
                and isinstance(out.get(name), dict):
            out[name]["meta"] = spec["meta"]
    return out
