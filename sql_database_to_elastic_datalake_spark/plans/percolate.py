"""Percolate — ES's reverse search: stored queries, evaluated against
candidate documents.

Reference surface: the reference forwards search bodies verbatim to a
real ES 8.11 (/root/reference/src/search_api.py:38-46), where the
``percolate`` query runs documents against queries stored in a
percolator-typed field (alerting / saved-search matching). This module
re-expresses it Spark-first:

* Stored queries are parsed DSL trees (the ``_scripts``-style
  service-local namespace the API exposes at ``/percolator/<id>``);
  storage validates them through :func:`compile_dsl` immediately, so a
  malformed tree 400s at PUT time, never at match time.
* Matching compiles EVERY stored query into one boolean Column and
  evaluates the whole set in ONE pass over the candidate rows — an
  array of (query_id, matched) structs filtered and exploded in-plan.
  One scan regardless of query count; no per-query jobs, no UDFs.
* The single-document route (ES's request shape) is the same operator
  over a one-row DataFrame. The corpus form — percolating a whole
  table/stream against the stored set, which is how alerting actually
  deploys — is the registered scale path (``percolate_orders``).

Scale: the compiled predicate set is plan-side expression mass, not
data (N queries → N codegen'd boolean expressions); the per-row cost
is N predicate evaluations fused into whole-stage codegen. Thousands
of stored queries stay one scan; for N beyond what one codegen unit
should hold, batch the query set and union — noted inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
    DslError,
    compile_dsl,
)
from sql_database_to_elastic_datalake_spark.plans.search import field_resolver


#: Stored-set batch size (r14, r13 verdict #6): beyond this many
#: stored queries, the compiled array-of-structs is split into
#: ceil(N / batch) per-batch scans unioned together. Measured at
#: sf0.1/local[32] (BENCH_percolate_r14.json): the one-scan plan's
#: per-query cost knees past ~500 stored queries (0.073 s/query at
#: 500 → 0.115 at 1000 → 0.143 at 2000 — expression mass pushes the
#: compiled batch out of efficient codegen and plan compile grows
#: with the tree), while 500-query batches hold it flat AND overlap
#: across the union (2000 queries: one-scan 285.6 s, batched-1000
#: 183.4 s, batched-500 **73.7 s**, identical match sets). No silent
#: cap: every stored query is always evaluated — batching only
#: changes the plan shape.
DEFAULT_BATCH_SIZE = 500


def percolate_corpus(
    df: DataFrame,
    queries: dict[str, dict],
    id_cols: list[str] | None = None,
    batch_size: int | None = DEFAULT_BATCH_SIZE,
) -> DataFrame:
    """Evaluate every stored query against every row of ``df`` — ONE
    scan per ``batch_size`` stored queries (one scan total for sets
    up to the batch size). Output: ``id_cols`` (default: all of
    ``df``'s columns) + ``query_id``, one row per (document, matching
    query).

    Missing fields resolve to NULL (ES's unmapped-field behavior in
    percolation: the clause just doesn't match); a NULL predicate is
    coalesced to false so it never leaks rows.

    ``batch_size=None`` forces the single-scan plan regardless of N
    (the measurement escape hatch; see DEFAULT_BATCH_SIZE for why the
    default batches)."""
    if not isinstance(queries, dict) or not queries:
        raise DslError("percolate needs at least one stored query")

    resolve = field_resolver(df)
    keep = id_cols if id_cols is not None else list(df.columns)
    qids = sorted(queries)
    step = batch_size if batch_size else len(qids)
    parts: list[DataFrame] = []
    for start in range(0, len(qids), max(step, 1)):
        structs = []
        for qid in qids[start:start + step]:
            pred = compile_dsl(queries[qid], field_resolver=resolve,
                               schema_fields=df.columns)
            structs.append(F.struct(
                F.lit(str(qid)).alias("query_id"),
                F.coalesce(pred, F.lit(False)).alias("matched"),
            ))
        matched = F.filter(F.array(*structs), lambda s: s["matched"])
        parts.append(
            df.select(*keep, F.explode(matched).alias("__m"))
            .select(*keep, F.col("__m")["query_id"].alias("query_id"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def percolate_document(spark, doc: dict, queries: dict[str, dict],
                       ) -> list[str]:
    """ES's single-document percolate request: which stored queries
    match ``doc``. Same one-pass operator over a one-row DataFrame;
    returns the matching query ids sorted (deterministic envelope
    order; ES orders by score, which is constant here)."""
    import json as _json

    if not isinstance(doc, dict) or not doc:
        raise DslError("percolate document must be a non-empty object")
    # None fields are dropped — an absent column already resolves to
    # NULL in the compiler, and a None value gives type inference
    # nothing to work with; structures serialize like the ingest path
    row = {
        k: (v if isinstance(v, (int, float, bool, str))
            else _json.dumps(v))
        for k, v in doc.items() if v is not None
    }
    if not row:
        raise DslError("percolate document has no non-null fields")
    df = spark.createDataFrame([tuple(row.values())],
                               list(row.keys()))
    out = percolate_corpus(df, queries, id_cols=[])
    return sorted(r["query_id"] for r in out.collect())
