"""ES aggregations compiler: envelope shapes and values against
hand-computed expectations, plus the API round trip."""

from __future__ import annotations

import datetime as dt

import pytest

from sql_database_to_elastic_datalake_spark.plans.es_aggs import run_aggs
from sql_database_to_elastic_datalake_spark.plans.es_dsl import DslError


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "en", 100, dt.datetime(2024, 1, 1, 10, 0)),
        (2, "en", 300, dt.datetime(2024, 1, 1, 11, 30)),
        (3, "de", 200, dt.datetime(2024, 1, 2, 9, 0)),
        (4, "de", 400, dt.datetime(2024, 1, 2, 23, 59)),
        (5, "fr", 50, dt.datetime(2024, 1, 3, 0, 0)),
        (6, None, 999, dt.datetime(2024, 1, 3, 1, 0)),
        (7, "en", None, dt.datetime(2024, 1, 1, 10, 59)),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, lang string, n_chars long, ts timestamp"
    )


def test_top_level_metrics_one_job(docs):
    out = run_aggs(docs, {
        "avg_chars": {"avg": {"field": "n_chars"}},
        "distinct_langs": {"cardinality": {"field": "lang"}},
        "char_stats": {"stats": {"field": "n_chars"}},
    })
    assert out["avg_chars"]["value"] == pytest.approx(2049 / 6)
    assert out["distinct_langs"]["value"] == 3  # exact, nulls excluded
    st = out["char_stats"]
    assert (st["count"], st["min"], st["max"], st["sum"]) == (6, 50, 999, 2049)


def test_terms_with_sub_metrics_and_other_count(docs):
    out = run_aggs(docs, {
        "langs": {
            "terms": {"field": "lang", "size": 2},
            "aggs": {"avg_chars": {"avg": {"field": "n_chars"}}},
        }
    })
    env = out["langs"]
    # en=3 docs, de=2, fr=1; size 2 -> fr is "other"; null lang excluded
    assert [b["key"] for b in env["buckets"]] == ["en", "de"]
    assert [b["doc_count"] for b in env["buckets"]] == [3, 2]
    assert env["sum_other_doc_count"] == 1
    assert env["doc_count_error_upper_bound"] == 0
    assert env["buckets"][0]["avg_chars"]["value"] == pytest.approx(200.0)
    assert env["buckets"][1]["avg_chars"]["value"] == pytest.approx(300.0)


def test_terms_count_ties_break_by_key(docs):
    out = run_aggs(docs.filter("lang IS NOT NULL AND doc_id <= 4"), {
        "langs": {"terms": {"field": "lang", "size": 10}},
    })
    # en=2, de=2: deterministic key tie-break (documented divergence)
    assert [b["key"] for b in out["langs"]["buckets"]] == ["de", "en"]


def test_date_histogram_calendar_and_fixed(docs):
    out = run_aggs(docs, {
        "per_day": {"date_histogram": {"field": "ts",
                                       "calendar_interval": "day"}},
    })
    buckets = out["per_day"]["buckets"]
    assert [b["doc_count"] for b in buckets] == [3, 2, 2]
    assert buckets[0]["key_as_string"].startswith("2024-01-01")
    assert buckets[0]["key"] == int(dt.datetime(
        2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)

    out = run_aggs(docs, {
        "per_halfday": {"date_histogram": {"field": "ts",
                                           "fixed_interval": "12h"}},
    })
    assert [b["doc_count"] for b in out["per_halfday"]["buckets"]] \
        == [3, 1, 1, 2]


def test_date_histogram_min_doc_count_zero_gap_fills(docs):
    """ES's date_histogram DEFAULT is min_doc_count 0: empty buckets
    between the observed range come back with doc_count 0 and null
    metrics; extended_bounds widens the range (bucket-truncated)."""
    out = run_aggs(docs.filter("doc_id in (1, 5)"), {  # Jan 1 and Jan 3
        "days": {
            "date_histogram": {"field": "ts", "calendar_interval": "day",
                               "min_doc_count": 0},
            "aggs": {"avg_c": {"avg": {"field": "n_chars"}}},
        }
    })
    buckets = out["days"]["buckets"]
    assert [b["doc_count"] for b in buckets] == [1, 0, 1]
    assert buckets[1]["key_as_string"].startswith("2024-01-02")
    assert buckets[1]["avg_c"]["value"] is None  # empty bucket metrics
    assert buckets[0]["avg_c"]["value"] == pytest.approx(100.0)
    # extended_bounds widens past the data (ISO string, mid-day value
    # truncates to its bucket)
    out = run_aggs(docs.filter("doc_id = 1"), {
        "days": {"date_histogram": {
            "field": "ts", "calendar_interval": "day",
            "min_doc_count": 0,
            "extended_bounds": {"min": "2023-12-30T15:00:00",
                                "max": "2024-01-02"},
        }}
    })
    keys = [b["key_as_string"][:10] for b in out["days"]["buckets"]]
    assert keys == ["2023-12-30", "2023-12-31", "2024-01-01",
                    "2024-01-02"]
    assert [b["doc_count"] for b in out["days"]["buckets"]] \
        == [0, 0, 1, 0]


def test_numeric_histogram_min_doc_count_zero(docs):
    out = run_aggs(docs.filter("doc_id in (5, 4)"), {  # 50 and 400
        "h": {"histogram": {"field": "n_chars", "interval": 100,
                            "min_doc_count": 0}}
    })
    assert [(b["key"], b["doc_count"]) for b in out["h"]["buckets"]] \
        == [(0, 1), (100, 0), (200, 0), (300, 0), (400, 1)]
    with pytest.raises(DslError, match="integer interval"):
        run_aggs(docs, {"h": {"histogram": {
            "field": "n_chars", "interval": 2.5, "min_doc_count": 0}}})


def test_histogram_and_range(docs):
    out = run_aggs(docs, {
        "by_200": {"histogram": {"field": "n_chars", "interval": 200}},
    })
    assert [(b["key"], b["doc_count"]) for b in out["by_200"]["buckets"]] \
        == [(0, 2), (200, 2), (400, 1), (800, 1)]

    out = run_aggs(docs, {
        "bands": {"range": {"field": "n_chars", "ranges": [
            {"to": 200},
            {"from": 100, "to": 400},     # overlaps: ES allows it
            {"from": 400, "key": "big"},
        ]}},
    })
    buckets = out["bands"]["buckets"]
    assert [b["doc_count"] for b in buckets] == [2, 3, 2]
    assert buckets[0]["key"] == "*-200" and "from" not in buckets[0]
    assert buckets[1] == {"doc_count": 3, "from": 100, "to": 400,
                          "key": "100-400"}
    assert buckets[2]["key"] == "big"


def test_filter_agg_uses_query_dsl(docs):
    out = run_aggs(docs, {
        "long_en": {
            "filter": {"bool": {"must": [
                {"term": {"lang": "en"}},
                {"range": {"n_chars": {"gte": 200}}},
            ]}},
            "aggs": {"m": {"max": {"field": "n_chars"}},
                     "s": {"stats": {"field": "n_chars"}}},
        }
    })
    env = out["long_en"]
    assert env["doc_count"] == 1
    assert env["m"]["value"] == 300
    assert env["s"]["count"] == 1 and env["s"]["sum"] == 300


def test_percentiles_and_missing(docs):
    out = run_aggs(docs, {
        "pct": {"percentiles": {"field": "n_chars",
                                "percents": [50, 95]}},
        "no_lang": {"missing": {"field": "lang"}},
    })
    # exact interpolated percentiles over [50,100,200,300,400,999]
    assert out["pct"]["values"]["50.0"] == pytest.approx(250.0)
    assert out["pct"]["values"]["95.0"] == pytest.approx(849.25)
    assert out["no_lang"]["doc_count"] == 1

    # as sub-aggs of a terms bucket and under a filter predicate
    out = run_aggs(docs, {
        "langs": {"terms": {"field": "lang", "size": 1},
                  "aggs": {"p": {"percentiles": {"field": "n_chars",
                                                 "percents": [50]}},
                           "gap": {"missing": {"field": "n_chars"}}}},
        "en_only": {"filter": {"term": {"lang": "en"}},
                    "aggs": {"p": {"percentiles": {"field": "n_chars",
                                                   "percents": [50]}},
                             "gap": {"missing": {"field": "n_chars"}}}},
    })
    en = out["langs"]["buckets"][0]
    assert en["key"] == "en"
    assert en["p"]["values"]["50.0"] == pytest.approx(200.0)
    assert en["gap"]["doc_count"] == 1   # doc 7: en with null n_chars
    assert out["en_only"]["p"]["values"]["50.0"] == pytest.approx(200.0)
    assert out["en_only"]["gap"]["doc_count"] == 1


def test_composite_pagination_covers_domain_exactly_once(docs):
    """Walk composite pages of 2 with the after cursor; the union of
    pages must equal the one-shot groupBy — no bucket skipped or
    repeated across page boundaries."""
    body = {
        "sources": [
            {"lang": {"terms": {"field": "lang"}}},
            {"band": {"histogram": {"field": "n_chars", "interval": 200}}},
        ],
        "size": 2,
    }
    pages, after, rounds = [], None, 0
    while True:
        req = dict(body, **({"after": after} if after else {}))
        env = run_aggs(docs, {"c": {"composite": req}})["c"]
        pages.extend(env["buckets"])
        rounds += 1
        if "after_key" not in env:
            break
        after = env["after_key"]
        assert rounds < 10
    got = [((b["key"]["lang"], b["key"]["band"]), b["doc_count"])
           for b in pages]
    # docs with null lang or null n_chars are excluded
    # (missing_bucket=false); expected one-shot aggregation:
    want = [(("de", 200), 1), (("de", 400), 1), (("en", 0), 1),
            (("en", 200), 1), (("fr", 0), 1)]
    assert got == want
    # keys must be strictly increasing across the whole walk
    assert [k for k, _ in got] == sorted(k for k, _ in got)


def test_terms_with_top_hits(docs):
    """top_hits under terms: per-bucket top documents via the window
    top-k pattern, restricted to the returned bucket keys."""
    out = run_aggs(docs, {
        "langs": {
            "terms": {"field": "lang", "size": 2},
            "aggs": {
                "avg_c": {"avg": {"field": "n_chars"}},
                "best": {"top_hits": {
                    "size": 2,
                    "sort": [{"n_chars": {"order": "desc"}}],
                }},
            },
        }
    })
    buckets = out["langs"]["buckets"]
    assert [b["key"] for b in buckets] == ["en", "de"]
    en = buckets[0]["best"]["hits"]
    assert en["total"] == {"value": 3, "relation": "eq"}
    # top 2 en docs by n_chars desc; doc 7 (null) sorts last and is cut
    assert [h["_source"]["doc_id"] for h in en["hits"]] == [2, 1]
    assert "__rn" not in en["hits"][0]["_source"]
    de = buckets[1]["best"]["hits"]
    assert [h["_source"]["n_chars"] for h in de["hits"]] == [400, 200]
    # metric sub-agg still rides the count job next to the top_hits
    assert buckets[0]["avg_c"]["value"] == pytest.approx(200.0)


def test_top_hits_under_timestamp_terms_key(docs):
    """top_hits attachment must key by the ENVELOPE-converted bucket
    key: a terms agg on a timestamp field exposes its buckets as epoch
    millis, and the hit lookup table used to be built from the raw
    datetime rows — every bucket attached an empty hits array (r5
    advisory, es_aggs.py by_key)."""
    out = run_aggs(docs.filter("doc_id <= 2"), {
        "by_ts": {
            "terms": {"field": "ts", "size": 5},
            "aggs": {"hit": {"top_hits": {"size": 1}}},
        }
    })
    buckets = out["by_ts"]["buckets"]
    assert len(buckets) == 2
    for b in buckets:
        assert isinstance(b["key"], int)  # epoch millis envelope
        hits = b["hit"]["hits"]["hits"]
        assert len(hits) == 1  # NOT the empty array the bug produced
        assert hits[0]["_source"]["doc_id"] in (1, 2)


def test_terms_order_missing_min_doc_count(docs):
    """ES terms parameters: order by a metric sub-agg, missing-value
    bucket, and min_doc_count pruning."""
    out = run_aggs(docs, {
        "langs": {
            "terms": {"field": "lang", "size": 10, "missing": "(none)",
                      "order": {"avg_c": "asc"}},
            "aggs": {"avg_c": {"avg": {"field": "n_chars"}}},
        }
    })
    env = out["langs"]
    # null-lang doc 6 (n_chars 999) lands in "(none)"; order asc by avg:
    # fr=50, en=200, de=300, (none)=999
    assert [b["key"] for b in env["buckets"]] \
        == ["fr", "en", "de", "(none)"]
    assert env["buckets"][3]["doc_count"] == 1
    assert env["sum_other_doc_count"] == 0  # missing docs counted
    # min_doc_count prunes the singletons; _key ordering supported
    out = run_aggs(docs, {
        "langs": {"terms": {"field": "lang", "min_doc_count": 2,
                            "order": {"_key": "desc"}}}
    })
    assert [b["key"] for b in out["langs"]["buckets"]] == ["en", "de"]
    # stats sub-path ordering
    out = run_aggs(docs, {
        "langs": {
            "terms": {"field": "lang", "order": {"st.max": "desc"}},
            "aggs": {"st": {"stats": {"field": "n_chars"}}},
        }
    })
    assert [b["key"] for b in out["langs"]["buckets"]][:2] == ["de", "en"]
    # unknown order target is the client's error
    with pytest.raises(DslError, match="unknown sub-agg"):
        run_aggs(docs, {"langs": {
            "terms": {"field": "lang", "order": {"nope": "asc"}}}})


def test_top_hits_respects_missing_bucket(docs):
    out = run_aggs(docs.filter("doc_id in (5, 6)"), {
        "langs": {
            "terms": {"field": "lang", "missing": "(none)"},
            "aggs": {"hit": {"top_hits": {"size": 1}}},
        }
    })
    buckets = {b["key"]: b for b in out["langs"]["buckets"]}
    assert buckets["(none)"]["hit"]["hits"]["hits"][0]["_source"][
        "doc_id"] == 6


def test_nested_levels_order_and_min_doc_count(spark):
    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "x", 2), ("b", "y", 3), (None, "z", 4)],
        "g string, h string, v long",
    )
    out = run_aggs(df, {
        "by_g": {
            "terms": {"field": "g", "missing": "(none)",
                      "order": {"_key": "asc"}, "min_doc_count": 1},
            "aggs": {"by_h": {"terms": {"field": "h"}}},
        }
    })
    assert [b["key"] for b in out["by_g"]["buckets"]] \
        == ["(none)", "a", "b"]
    # metric ordering inside a chain is LIVE since r7 (avg a=1.5,
    # b=3, (missing null g)=4 — asc)
    out = run_aggs(df, {"by_g": {
        "terms": {"field": "g", "missing": "(none)",
                  "order": {"m": "asc"}},
        "aggs": {"m": {"avg": {"field": "v"}},
                 "by_h": {"terms": {"field": "h"}}},
    }})
    assert [b["key"] for b in out["by_g"]["buckets"]] \
        == ["a", "b", "(none)"]


def test_nested_bucket_levels_terms_date_histogram(docs):
    """terms > date_histogram > metrics rides ONE shuffle: the flat
    composite-key frame is assembled into the ES tree driver-side."""
    out = run_aggs(docs, {
        "langs": {
            "terms": {"field": "lang", "size": 2},
            "aggs": {
                "per_day": {
                    "date_histogram": {"field": "ts",
                                       "calendar_interval": "day"},
                    "aggs": {"avg_c": {"avg": {"field": "n_chars"}}},
                },
                # a metric at the INTERMEDIATE level rolls up from the
                # flat components (sum/count), not from child avgs
                "lang_avg": {"avg": {"field": "n_chars"}},
            },
        }
    })
    env = out["langs"]
    assert [b["key"] for b in env["buckets"]] == ["en", "de"]
    assert env["sum_other_doc_count"] == 1  # fr truncated by size=2
    en = env["buckets"][0]
    assert en["doc_count"] == 3
    # docs 1,2,7 are en: 100+300 over 2 non-null values
    assert en["lang_avg"]["value"] == pytest.approx(200.0)
    days = en["per_day"]["buckets"]
    assert [d["doc_count"] for d in days] == [3]
    assert days[0]["avg_c"]["value"] == pytest.approx(200.0)
    assert "key_as_string" in days[0]
    de = env["buckets"][1]
    assert [d["doc_count"] for d in de["per_day"]["buckets"]] == [2]
    assert de["per_day"]["buckets"][0]["avg_c"]["value"] \
        == pytest.approx(300.0)


def test_nested_levels_null_child_key_counts_in_parent(spark):
    """A doc with a level-0 key but a null level-1 key counts in its
    parent bucket's doc_count and metric rollups but forms no child
    bucket — ES's behavior."""
    df = spark.createDataFrame(
        [("a", "x", 10), ("a", None, 20), ("b", "x", 30)],
        "g string, h string, v long",
    )
    out = run_aggs(df, {
        "by_g": {
            "terms": {"field": "g"},
            "aggs": {
                "by_h": {"terms": {"field": "h"}},
                "sum_v": {"sum": {"field": "v"}},
            },
        }
    })
    a = out["by_g"]["buckets"][0]
    assert (a["key"], a["doc_count"]) == ("a", 2)  # null-h doc counted
    assert a["sum_v"]["value"] == 30
    assert [(b["key"], b["doc_count"]) for b in a["by_h"]["buckets"]] \
        == [("x", 1)]  # …but no null child bucket


def test_nested_levels_three_deep_and_deepest_exact_metrics(docs):
    out = run_aggs(docs, {
        "langs": {
            "terms": {"field": "lang", "size": 3},
            "aggs": {"days": {
                "date_histogram": {"field": "ts",
                                   "calendar_interval": "day"},
                "aggs": {"hours": {
                    "date_histogram": {"field": "ts",
                                       "calendar_interval": "hour"},
                    # deepest level: exact percentiles/cardinality OK
                    "aggs": {
                        "p": {"percentiles": {"field": "n_chars",
                                              "percents": [50.0]}},
                        "langs_n": {"cardinality": {"field": "lang"}},
                    },
                }},
            }},
        }
    })
    en = out["langs"]["buckets"][0]
    hours = en["days"]["buckets"][0]["hours"]["buckets"]
    assert [h["doc_count"] for h in hours] == [2, 1]
    assert hours[0]["p"]["values"]["50.0"] == pytest.approx(100.0)
    assert hours[0]["langs_n"]["value"] == 1


def test_nested_chain_histogram_gap_fill_and_min_doc_count(docs):
    """min_doc_count inside a nested chain: 0 gap-fills per parent
    bucket (driver-side — the keys are already in memory), >1 prunes;
    empty filled buckets carry null metrics and empty child levels."""
    out = run_aggs(docs, {
        "langs": {
            "terms": {"field": "lang", "size": 2},
            "aggs": {"days": {
                "date_histogram": {"field": "ts",
                                   "calendar_interval": "day",
                                   "min_doc_count": 0},
                "aggs": {"avg_c": {"avg": {"field": "n_chars"}}},
            }},
        }
    })
    # en docs are all Jan 1; de docs are Jan 2 -> single-day parents
    en = out["langs"]["buckets"][0]
    assert [d["doc_count"] for d in en["days"]["buckets"]] == [3]
    # a parent spanning a gap: en+de+fr under one synthetic key
    out = run_aggs(docs.withColumn("one", F_lit_one(docs)), {
        "all": {
            "terms": {"field": "one"},
            "aggs": {"days": {
                "date_histogram": {"field": "ts",
                                   "calendar_interval": "day",
                                   "min_doc_count": 0},
            }},
        }
    })
    days = out["all"]["buckets"][0]["days"]["buckets"]
    assert [d["doc_count"] for d in days] == [3, 2, 2]  # no gaps here
    # min_doc_count > 1 prunes inside the chain
    out = run_aggs(docs.withColumn("one", F_lit_one(docs)), {
        "all": {
            "terms": {"field": "one"},
            "aggs": {"days": {
                "date_histogram": {"field": "ts",
                                   "calendar_interval": "day",
                                   "min_doc_count": 3},
            }},
        }
    })
    days = out["all"]["buckets"][0]["days"]["buckets"]
    assert [d["doc_count"] for d in days] == [3]
    # extended_bounds inside a chain is a named limitation
    with pytest.raises(DslError, match="nested bucket chain"):
        run_aggs(docs, {"langs": {
            "terms": {"field": "lang"},
            "aggs": {"days": {"date_histogram": {
                "field": "ts", "calendar_interval": "day",
                "extended_bounds": {"min": "2024-01-01"}}}},
        }})


def F_lit_one(df):
    from pyspark.sql import functions as F

    return F.lit("all")


def test_nested_chain_gap_fill_with_real_gap(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1), 10),
         ("a", dt.datetime(2024, 1, 4), 40)],
        "g string, ts timestamp, v long",
    )
    out = run_aggs(df, {"by_g": {
        "terms": {"field": "g"},
        "aggs": {"days": {
            "date_histogram": {"field": "ts", "calendar_interval": "day",
                               "min_doc_count": 0},
            "aggs": {"avg_v": {"avg": {"field": "v"}}},
        }},
    }})
    days = out["by_g"]["buckets"][0]["days"]["buckets"]
    assert [d["doc_count"] for d in days] == [1, 0, 0, 1]
    assert days[1]["avg_v"]["value"] is None
    assert days[1]["key_as_string"].startswith("2024-01-02")


def test_nested_levels_rejections(docs):
    # non-mergeable metric above the deepest level
    with pytest.raises(DslError, match="deepest"):
        run_aggs(docs, {"langs": {
            "terms": {"field": "lang"},
            "aggs": {
                "p": {"percentiles": {"field": "n_chars"}},
                "days": {"date_histogram": {"field": "ts",
                                            "calendar_interval": "day"}},
            },
        }})
    # sibling buckets and deepest-level top_hits are LIVE since r7
    # (test_sibling_bucket_subaggs / test_top_hits_inside_chain);
    # top_hits ABOVE the deepest level stays a named error
    with pytest.raises(DslError, match="DEEPEST"):
        run_aggs(docs, {"langs": {
            "terms": {"field": "lang"},
            "aggs": {
                "th": {"top_hits": {"size": 1}},
                "days": {"date_histogram": {"field": "ts",
                                            "calendar_interval": "day"}},
            },
        }})


def test_sibling_bucket_subaggs(docs):
    """r7: sibling bucket sub-aggs under one parent — each sibling
    runs as its own chain, the subtrees graft onto one response tree
    by bucket key."""
    out = run_aggs(docs, {"langs": {
        "terms": {"field": "lang", "size": 2},
        "aggs": {
            "avg_c": {"avg": {"field": "n_chars"}},
            "by_len": {"histogram": {"field": "n_chars",
                                     "interval": 200}},
            "by_day": {"date_histogram": {"field": "ts",
                                          "calendar_interval": "day"}},
        },
    }})
    env = out["langs"]
    assert [b["key"] for b in env["buckets"]] == ["en", "de"]
    en = env["buckets"][0]
    # parent metrics and doc_count ride the primary chain
    assert en["doc_count"] == 3
    assert en["avg_c"]["value"] == pytest.approx(200.0)
    # both sibling subtrees are present and correct
    assert [(b["key"], b["doc_count"])
            for b in en["by_len"]["buckets"]] == [(0, 1), (200, 1)]
    assert [b["doc_count"] for b in en["by_day"]["buckets"]] == [3]
    de = env["buckets"][1]
    assert [(b["key"], b["doc_count"])
            for b in de["by_len"]["buckets"]] == [(200, 1), (400, 1)]
    # three-sibling + deeper-chain mix: branch below the top level
    out = run_aggs(docs, {"days": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {"langs": {
            "terms": {"field": "lang"},
            "aggs": {
                "mx": {"max": {"field": "n_chars"}},
                "h": {"histogram": {"field": "n_chars",
                                    "interval": 500}},
                "half": {"date_histogram": {"field": "ts",
                                            "fixed_interval": "12h"}},
            },
        }},
    }})
    day1 = out["days"]["buckets"][0]
    en1 = day1["langs"]["buckets"][0]
    assert en1["key"] == "en" and en1["doc_count"] == 3
    assert en1["mx"]["value"] == 300
    assert [(b["key"], b["doc_count"]) for b in en1["h"]["buckets"]] \
        == [(0, 2)]
    assert [b["doc_count"] for b in en1["half"]["buckets"]] == [3]


def test_top_hits_inside_chain(docs):
    """r7: top_hits at the deepest level of a chain — per innermost
    bucket, the window top-k restricted to RETURNED buckets via a
    broadcast semi-join on the composite key."""
    out = run_aggs(docs, {"langs": {
        "terms": {"field": "lang", "size": 2},
        "aggs": {"days": {
            "date_histogram": {"field": "ts",
                               "calendar_interval": "day"},
            "aggs": {"th": {"top_hits": {
                "size": 1, "sort": [{"n_chars": "desc"}],
                "_source": ["doc_id", "n_chars"]}}},
        }},
    }})
    env = out["langs"]
    assert [b["key"] for b in env["buckets"]] == ["en", "de"]
    en_day = env["buckets"][0]["days"]["buckets"][0]
    hits = en_day["th"]["hits"]
    assert hits["total"]["value"] == en_day["doc_count"] == 3
    # the longest en doc on Jan 1 is doc 2 (300 chars)
    assert hits["hits"][0]["_source"] == {"doc_id": 2, "n_chars": 300}
    de_day = env["buckets"][1]["days"]["buckets"][0]
    assert de_day["th"]["hits"]["hits"][0]["_source"]["doc_id"] == 4
    # gap-filled empty buckets get empty hit arrays (no flat row, no
    # candidate volume)
    from pyspark.sql import functions as F

    out = run_aggs(
        docs.filter("doc_id in (1, 5)").withColumn("g", F.lit("x")),
        {"gs": {"terms": {"field": "g"}, "aggs": {"days": {
            "date_histogram": {"field": "ts",
                               "calendar_interval": "day",
                               "min_doc_count": 0},
            "aggs": {"th": {"top_hits": {"size": 1}}},
        }}}})
    days = out["gs"]["buckets"][0]["days"]["buckets"]
    assert [b["doc_count"] for b in days] == [1, 0, 1]
    assert [len(b["th"]["hits"]["hits"]) for b in days] == [1, 0, 1]


def test_composite_date_histogram_cursor_roundtrip(docs):
    """The after_key for a date source is epoch millis (ES envelope
    shape); feeding it back must resume correctly against the raw
    TIMESTAMP column — a raw integer comparison would mis-coerce."""
    body = {"sources": [
        {"day": {"date_histogram": {"field": "ts",
                                    "calendar_interval": "day"}}},
    ], "size": 1}
    env1 = run_aggs(docs, {"c": {"composite": body}})["c"]
    assert [b["doc_count"] for b in env1["buckets"]] == [3]
    after = env1["after_key"]
    assert isinstance(after["day"], int)  # epoch millis
    env2 = run_aggs(docs, {"c": {"composite": dict(body, after=after)}})["c"]
    assert [b["doc_count"] for b in env2["buckets"]] == [2]
    # composite keys stay raw (ES emits epoch millis here, no
    # key_as_string without an explicit format)
    assert env2["buckets"][0]["key"]["day"] == int(dt.datetime(
        2024, 1, 2, tzinfo=dt.timezone.utc).timestamp() * 1000)


def test_composite_sub_metrics_and_errors(docs):
    env = run_aggs(docs, {"c": {
        "composite": {
            "sources": [{"lang": {"terms": {"field": "lang"}}}],
            "size": 10,
        },
        "aggs": {"mx": {"max": {"field": "n_chars"}}},
    }})["c"]
    assert {b["key"]["lang"]: b["mx"]["value"] for b in env["buckets"]} \
        == {"de": 400, "en": 300, "fr": 50}
    assert "after_key" not in env  # short page: domain exhausted
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import DslError
    for bad in (
        {"c": {"composite": {"sources": []}}},
        {"c": {"composite": {"sources": [
            {"a": {"terms": {"field": "lang"}},
             "b": {"terms": {"field": "lang"}}}]}}},
        {"c": {"composite": {"sources": [{"a": {"terms": {"field": "lang"}}}],
                             "after": {"wrong": 1}}}},
    ):
        with pytest.raises(DslError):
            run_aggs(docs, bad)


def test_result_changing_agg_options_400_not_ignored(docs):
    """The reference forwards agg bodies verbatim to ES, so a key with
    live ES semantics that this engine doesn't implement must 400 with
    its name — silently ignoring time_zone/offset/keyed would return
    WRONG numbers. Execution-tuning keys (shard_size, …) stay
    accepted-and-ignored: they cannot change results."""
    for aggs, frag in [
        ({"d": {"date_histogram": {"field": "ts",
                                   "calendar_interval": "day",
                                   "script": "x"}}}, "script"),
        ({"h": {"histogram": {"field": "n_chars", "interval": 10,
                              "offset": 15}}}, "offset"),
        ({"r": {"range": {"field": "n_chars", "script": "x",
                          "ranges": [{"to": 10}]}}}, "script"),
        ({"t": {"terms": {"field": "lang", "script": "x"}}}, "script"),
        ({"a": {"avg": {"field": "n_chars", "format": "0.0"}}},
         "format"),
        ({"c": {"composite": {"sources": [
            {"l": {"terms": {"field": "lang",
                             "script": "x"}}}]}}},
         "script"),
        ({"c": {"composite": {"sources": [
            {"l": {"terms": {"field": "lang",
                             "order": "sideways"}}}]}}},
         "order"),
        # time_zone is LIVE since r7 — but an unknown zone id is still
        # the client's error, eagerly named (not a mid-job JVM throw)
        ({"d": {"date_histogram": {"field": "ts",
                                   "calendar_interval": "day",
                                   "time_zone": "Mars/Olympus"}}},
         "time_zone"),
        ({"d": {"date_histogram": {"field": "ts",
                                   "calendar_interval": "day",
                                   "offset": "1.5h"}}}, "offset"),
    ]:
        with pytest.raises(DslError, match=frag):
            run_aggs(docs, aggs)
    # tuning keys pass through
    out = run_aggs(docs, {"t": {"terms": {
        "field": "lang", "shard_size": 500, "execution_hint": "map"}}})
    assert out["t"]["buckets"]
    # ...including inside nested chains
    with pytest.raises(DslError, match="keyed"):
        run_aggs(docs, {"t": {
            "terms": {"field": "lang"},
            "aggs": {"d": {"date_histogram": {
                "field": "ts", "calendar_interval": "day",
                "keyed": True}}},
        }})


def test_metric_missing_parameter_substitutes(docs):
    """ES's metric `missing` parameter: docs lacking the field
    aggregate as if they carried the value."""
    out = run_aggs(docs, {
        "avg_c": {"avg": {"field": "n_chars", "missing": 0}},
        "n": {"value_count": {"field": "n_chars", "missing": 0}},
    })
    # doc 7's null n_chars becomes 0: avg over 7 docs, count 7
    assert out["avg_c"]["value"] == pytest.approx(2049 / 7)
    assert out["n"]["value"] == 7
    # and under a bucket agg
    out = run_aggs(docs, {"langs": {
        "terms": {"field": "lang", "size": 1},
        "aggs": {"avg_c": {"avg": {"field": "n_chars", "missing": 200}}},
    }})
    b = out["langs"]["buckets"][0]  # en: 100, 300, null->200
    assert b["avg_c"]["value"] == pytest.approx(200.0)


def test_significant_terms_envelope(docs):
    """significant_terms contrasts the matched scope against the
    background (the unfiltered table): JLH-scored, fg%>bg% only."""
    out = run_aggs(docs.filter("n_chars >= 200"),
                   {"sig": {"significant_terms": {
                       "field": "lang", "min_doc_count": 1}}},
                   background=docs)
    env = out["sig"]
    assert env["doc_count"] == 4 and env["bg_count"] == 7
    buckets = {b["key"]: b for b in env["buckets"]}
    # de: fg 2/4 vs bg 2/7 -> overrepresented; en: 1/4 < 3/7 -> out
    assert "de" in buckets and "en" not in buckets
    de = buckets["de"]
    fg_pct, bg_pct = 2 / 4, 2 / 7
    assert de["doc_count"] == 2 and de["bg_count"] == 2
    assert de["score"] == pytest.approx(
        (fg_pct - bg_pct) * (fg_pct / bg_pct))
    # no background context -> named error, not a silent empty result
    with pytest.raises(DslError, match="background"):
        run_aggs(docs, {"sig": {"significant_terms": {"field": "lang"}}})
    # r10: background_filter narrows the contrast scope (ES option)
    out = run_aggs(docs.filter("n_chars >= 200"),
                   {"sig": {"significant_terms": {
                       "field": "lang", "min_doc_count": 1,
                       "background_filter": {
                           "range": {"n_chars": {"gte": 100}}}}}},
                   background=docs)
    env = out["sig"]
    # bg scope: n_chars >= 100 → 5 docs (null n_chars drops)
    assert env["bg_count"] == 5
    de = {b["key"]: b for b in env["buckets"]}["de"]
    fg_pct, bg_pct = 2 / 4, 2 / 5
    assert de["score"] == pytest.approx(
        (fg_pct - bg_pct) * (fg_pct / bg_pct))


def test_significant_text_envelope(spark):
    """r10: significant_text — JLH over TOKENS with doc frequency
    (each doc counts once per distinct token), both scopes in one
    tokenized scan via the foreground flag."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([
        (1, "en", "spark spark engine"),   # 'spark' counts ONCE here
        (2, "en", "spark cluster"),
        (3, "de", "engine cluster motor"),
        (4, "de", "der motor"),
        (5, "fr", None),                   # null text: totals only
    ], "doc_id long, lang string, text string")
    fg = df.filter("lang = 'en'")
    out = run_aggs(
        fg, {"sig": {"significant_text": {
            "field": "text", "min_doc_count": 1}}},
        background=df, background_pred=F.col("lang") == "en")
    env = out["sig"]
    assert env["doc_count"] == 2 and env["bg_count"] == 5
    buckets = {b["key"]: b for b in env["buckets"]}
    # spark: fg 2/2 vs bg 2/5 — doc frequency, not term frequency
    assert buckets["spark"]["doc_count"] == 2
    assert buckets["spark"]["bg_count"] == 2
    fg_pct, bg_pct = 2 / 2, 2 / 5
    assert buckets["spark"]["score"] == pytest.approx(
        (fg_pct - bg_pct) * (fg_pct / bg_pct))
    # top score first; fg-absent tokens never qualify
    assert env["buckets"][0]["key"] == "spark"
    assert "der" not in buckets and "motor" not in buckets
    # no background context → named error
    with pytest.raises(DslError, match="background"):
        run_aggs(fg, {"sig": {"significant_text": {"field": "text"}}},
                 background=df)
    # result-changing unknown options → named 400
    with pytest.raises(DslError, match="filter_duplicate_text"):
        run_aggs(fg, {"sig": {"significant_text": {
            "field": "text", "filter_duplicate_text": True}}},
            background=df, background_pred=F.col("lang") == "en")
    with pytest.raises(DslError, match="sub-aggregations"):
        run_aggs(fg, {"sig": {"significant_text": {"field": "text"},
                              "aggs": {"m": {"avg": {
                                  "field": "doc_id"}}}}},
                 background=df, background_pred=F.col("lang") == "en")
    # r10: background_filter narrows the bg scope; the one-scan
    # contract holds (fg OR bg rows, two flags). fg=en vs bg=de:
    # 'spark' has bg_count 0 there → dropped (no zero-division inf)
    out = run_aggs(
        fg, {"sig": {"significant_text": {
            "field": "text", "min_doc_count": 1,
            "background_filter": {"term": {"lang": "de"}}}}},
        background=df, background_pred=F.col("lang") == "en")
    env = out["sig"]
    assert env["doc_count"] == 2 and env["bg_count"] == 2
    keys = {b["key"] for b in env["buckets"]}
    assert "spark" not in keys  # bg_count 0 → dropped, not inf
    # 'engine'/'cluster': fg 1/2 vs bg 1/2 → fg% == bg% → out too
    assert keys == set()


def test_significant_text_via_advanced_search(spark, tmp_path):
    import json

    flask = pytest.importorskip("flask")  # noqa: F841
    from sql_database_to_elastic_datalake_spark.api import (
        LakeService,
        create_app,
    )

    service = LakeService(spark, str(tmp_path))
    spark.createDataFrame([
        (1, "infra", "spark cluster tuning"),
        (2, "infra", "spark shuffle tuning"),
        (3, "app", "frontend forms"),
        (4, "app", "frontend routing"),
    ], "id long, topic string, body string").write.parquet(
        str(tmp_path / "data_lake_note"))
    app = create_app(service)
    app.testing = True
    c = app.test_client()
    r = c.post("/search/advanced", data=json.dumps({
        "table": "data_lake_note",
        "query": {"term": {"topic": "infra"}},
        "aggs": {"sig": {"significant_text": {
            "field": "body", "min_doc_count": 1}}},
    }), content_type="application/json")
    assert r.status_code == 200
    env = r.get_json()["aggregations"]["sig"]
    keys = [b["key"] for b in env["buckets"]]
    # infra-only tokens qualify; shared/absent ones don't
    assert "spark" in keys and "tuning" in keys
    assert "frontend" not in keys


def test_terms_include_partitions(docs):
    """r10: ES's high-cardinality terms pager — include.partition
    keys land in exactly one partition, the union is complete, and
    malformed specs are named 400s."""
    import hashlib

    seen: list = []
    for p in range(3):
        out = run_aggs(docs, {"t": {"terms": {
            "field": "lang", "size": 10, "min_doc_count": 1,
            "include": {"partition": p, "num_partitions": 3}}}})
        for b in out["t"]["buckets"]:
            want = int(hashlib.md5(
                b["key"].encode()).hexdigest()[:8], 16) % 3
            assert want == p
            seen.append(b["key"])
    assert sorted(seen) == ["de", "en", "fr"]  # disjoint + complete
    with pytest.raises(DslError, match="partition keys"):
        run_aggs(docs, {"t": {"terms": {
            "field": "lang",
            "include": {"partition": 0, "num_partitions": 3,
                        "size": 9}}}})
    with pytest.raises(DslError, match="num_partitions"):
        run_aggs(docs, {"t": {"terms": {
            "field": "lang",
            "include": {"partition": 3, "num_partitions": 3}}}})
    with pytest.raises(DslError, match="exclude does not take"):
        run_aggs(docs, {"t": {"terms": {
            "field": "lang",
            "exclude": {"partition": 0, "num_partitions": 3}}}})


def test_sampler_and_diversified(spark):
    """r10: sampler / diversified_sampler — sub-aggs see at most
    shard_size docs, picked deterministically by md5 of the lead
    tie-break column (the documented divergence from ES's per-shard
    top-scoring sample)."""
    import hashlib

    df = spark.createDataFrame(
        [(i, ["red", "blue", "green"][i % 3], i * 10)
         for i in range(30)] + [(99, None, 990)],
        "id long, color string, v long")
    out = run_aggs(df, {"s": {
        "sampler": {"shard_size": 8},
        "aggs": {"avg_v": {"avg": {"field": "v"}},
                 "colors": {"terms": {"field": "color", "size": 5,
                                      "min_doc_count": 1}}},
    }})
    env = out["s"]
    assert env["doc_count"] == 8
    # the sample is exactly the 8 ids with the smallest md5(id)
    ids = sorted(range(30), key=lambda i: (
        hashlib.md5(str(i).encode()).hexdigest(), i))
    want = sorted([*ids[:8], 99], key=lambda i: (
        hashlib.md5(str(i).encode()).hexdigest(), i))[:8]
    assert env["avg_v"]["value"] == pytest.approx(
        sum(i * 10 for i in want) / 8)
    assert sum(b["doc_count"] for b in env["colors"]["buckets"]) \
        == len([i for i in want if i != 99])
    # deterministic: the same call replays bit-identically
    again = run_aggs(df, {"s": {
        "sampler": {"shard_size": 8},
        "aggs": {"avg_v": {"avg": {"field": "v"}}}}})
    assert again["s"]["avg_v"]["value"] == env["avg_v"]["value"]
    # diversified: at most max_docs_per_value per color; the null
    # color bypasses the cap (no value to deduplicate on)
    out = run_aggs(df, {"s": {
        "diversified_sampler": {"shard_size": 10, "field": "color",
                                "max_docs_per_value": 2,
                                "execution_hint": "map"},
        "aggs": {"colors": {"terms": {"field": "color", "size": 5,
                                      "min_doc_count": 1}}},
    }})
    buckets = out["s"]["colors"]["buckets"]
    assert buckets and all(b["doc_count"] <= 2 for b in buckets)
    assert out["s"]["doc_count"] <= 10
    # shard_size caps the whole sample even when the corpus is larger
    out = run_aggs(df, {"s": {"sampler": {"shard_size": 5}}})
    assert out["s"]["doc_count"] == 5
    # r10: significant_text works UNDER a sampler — the foreground
    # flag is an In-predicate on the sample's tie-break key, so the
    # one-tokenized-scan contract holds under the wrapper too
    tdf = spark.createDataFrame(
        [(i, "hot topic" if i % 2 else "cold stuff")
         for i in range(20)],
        "id long, body string")
    out = run_aggs(tdf, {"s": {
        "sampler": {"shard_size": 6},
        "aggs": {"sig": {"significant_text": {
            "field": "body", "min_doc_count": 1}}},
    }}, background=tdf)
    sig = out["s"]["sig"]
    assert sig["doc_count"] == 6 and sig["bg_count"] == 20
    assert all(b["doc_count"] <= 6 for b in sig["buckets"])
    # named 400s
    with pytest.raises(DslError, match="shard_size"):
        run_aggs(df, {"s": {"sampler": {"shard_size": 0}}})
    with pytest.raises(DslError, match="requires a field"):
        run_aggs(df, {"s": {"diversified_sampler": {"shard_size": 5}}})
    with pytest.raises(DslError, match="max_docs_per_value"):
        run_aggs(df, {"s": {"diversified_sampler": {
            "shard_size": 5, "field": "color",
            "max_docs_per_value": 0}}})
    with pytest.raises(DslError, match="unsupported"):
        run_aggs(df, {"s": {"sampler": {"shard_size": 5,
                                        "max_docs_per_value": 2}}})


def test_sampler_foreground_non_unique_lead_key(spark):
    """r11 (ADVICE): a table without a unique ``id`` column leads its
    tiebreak with a foreign-key ``*_id`` that may repeat — an isin()
    foreground predicate on it counted background rows OUTSIDE the
    sample as foreground, inflating significant_text doc counts. The
    fixed predicate identifies sample rows by the full atomic
    tiebreak tuple, so a grp_id twin left out of the sample stays
    background."""
    import hashlib

    # 10 grp_ids × 2 rows each; text is a pure function of grp_id
    tdf = spark.createDataFrame(
        [(g, 2 * g + j, f"tok{g} common")
         for g in range(10) for j in range(2)],
        "grp_id long, seq long, body string")
    # sample rank = md5(lead key): shard_size 5 takes the two
    # smallest-md5 grp_ids whole and SPLITS the third pair — one row
    # in the sample, its twin outside (the bug counted both)
    order = sorted(range(10),
                   key=lambda g: hashlib.md5(str(g).encode()).hexdigest())
    full, split = order[:2], order[2]
    out = run_aggs(tdf, {"s": {
        "sampler": {"shard_size": 5},
        "aggs": {"sig": {"significant_text": {
            "field": "body", "min_doc_count": 1}}},
    }}, background=tdf)
    sig = out["s"]["sig"]
    assert sig["doc_count"] == 5 and sig["bg_count"] == 20
    got = {b["key"]: b["doc_count"] for b in sig["buckets"]}
    # 'common' is in every doc (fg ratio == bg ratio == 1 → score 0,
    # dropped); each sampled tok{g} is significant (fg 2/5 or 1/5 vs
    # bg 2/20)
    assert got == {f"tok{full[0]}": 2, f"tok{full[1]}": 2,
                   f"tok{split}": 1}, got


def test_significant_terms_via_advanced_search(spark, tmp_path):
    import json

    flask = pytest.importorskip("flask")  # noqa: F841
    from sql_database_to_elastic_datalake_spark.api import (
        LakeService,
        create_app,
    )

    service = LakeService(spark, str(tmp_path))
    service.ingest("label", [
        {"name": "spark a", "color": "red"},
        {"name": "spark b", "color": "red"},
        {"name": "other c", "color": "red"},
        {"name": "other d", "color": "blue"},
        {"name": "other e", "color": "blue"},
        {"name": "other f", "color": "blue"},
    ])
    app = create_app(service)
    app.testing = True
    c = app.test_client()
    r = c.post("/search/advanced", data=json.dumps({
        "table": "data_lake_label",
        "query": {"match": {"name": "spark"}},
        "aggs": {"sig_colors": {"significant_terms": {
            "field": "color", "min_doc_count": 1}}},
    }), content_type="application/json")
    assert r.status_code == 200
    env = r.get_json()["aggregations"]["sig_colors"]
    # red: fg 2/2 vs bg 3/6 — significant; blue absent from fg
    assert [b["key"] for b in env["buckets"]] == ["red"]
    assert env["buckets"][0]["doc_count"] == 2


def test_agg_errors_are_dsl_errors(docs):
    for bad in (
        {"x": {"terms": {"field": "lang"}, "histogram": {}}},  # two kinds
        # r13 late: geo_bounds exists now — on a NON-geo column it
        # must still be a named 400 (type-checked), not a mid-plan
        # AnalysisException; range+metric subs became supported, so
        # the former range error case is a missing-ranges one
        {"x": {"geo_bounds": {"field": "n_chars"}}},
        {"x": {"histogram": {"field": "n_chars", "interval": 0}}},
        {"x": {"date_histogram": {"field": "ts"}}},            # no interval
        {"x": {"date_histogram": {"field": "ts",
                                  "fixed_interval": "5fortnights"}}},
        {"x": {"range": {"field": "n_chars"},
               "aggs": {"m": {"avg": {"field": "n_chars"}}}}},
        {"x": {"avg": {}}},                                    # no field
    ):
        with pytest.raises(DslError):
            run_aggs(docs, bad)


def test_advanced_search_sort_and_search_after(spark, tmp_path):
    """Sorted hits with search_after cursors: walking pages of 2 over
    a desc-primary/asc-tiebreak sort covers the matched set exactly
    once in order; sorted totals are exact (Observation on the
    TakeOrdered input); cursor errors are 400s."""
    import json
    import os

    flask = pytest.importorskip("flask")  # noqa: F841
    from sql_database_to_elastic_datalake_spark.api import (
        LakeService,
        create_app,
    )

    lake = str(tmp_path / "lake")
    spark.createDataFrame(
        [(1, "en", 100), (2, "en", 300), (3, "de", 300),
         (4, "de", 999), (5, "fr", 50)],
        "doc_id long, lang string, n_chars long",
    ).write.parquet(os.path.join(lake, "data_lake_doc"))
    app = create_app(LakeService(spark, lake))
    app.testing = True
    c = app.test_client()

    base = {
        "table": "data_lake_doc",
        "query": {"range": {"n_chars": {"lte": 500}}},  # drops doc 4
        "sort": [{"n_chars": {"order": "desc"}}, "doc_id"],
        "k": 2,
    }
    seen, cursor, rounds = [], None, 0
    while True:
        req = dict(base, **({"search_after": cursor} if cursor else {}))
        r = c.post("/search/advanced", data=json.dumps(req),
                   content_type="application/json")
        assert r.status_code == 200
        hits = r.get_json()["hits"]
        assert hits["total"]["relation"] == "eq"
        if not hits["hits"]:
            break
        if rounds == 0:
            assert hits["total"]["value"] == 4
        seen += [(h["_source"]["doc_id"], h["sort"]) for h in hits["hits"]]
        cursor = hits["hits"][-1]["sort"]
        rounds += 1
        assert rounds < 6
    # n_chars desc, doc_id asc tiebreak (docs 2 and 3 tie at 300)
    assert [d for d, _ in seen] == [2, 3, 1, 5]
    assert seen[0][1] == [300, 2]  # sort values power the cursor

    for bad, msg in (
        (dict(base, search_after=[300]), "values"),      # arity
        (dict(base, sort=[{"nope": "desc"}]), "sort field"),
        (dict(base, sort=[{"n_chars": {"order": "sideways"}}]), "order"),
        ({"table": "data_lake_doc", "query": {"match_all": {}},
          "search_after": [1]}, "requires a sort"),
    ):
        r = c.post("/search/advanced", data=json.dumps(bad),
                   content_type="application/json")
        assert r.status_code == 400, bad
        assert msg in r.get_json()["error"]


def test_advanced_search_index_pattern(spark, tmp_path):
    """The reference's advanced search always queries the data_lake_*
    pattern (src/search_api.py:40-44): omitted table searches every
    lake table; fields a table lacks match nothing there (ES
    semantics); per-hit _index names the source table; sorted merges
    interleave tables in global order."""
    import json
    import os

    flask = pytest.importorskip("flask")  # noqa: F841
    from sql_database_to_elastic_datalake_spark.api import (
        LakeService,
        create_app,
    )

    lake = str(tmp_path / "lake")
    spark.createDataFrame(
        [(1, "ticket spark", 300), (2, "ticket pandas", 100)],
        "id long, title string, prio long",
    ).write.parquet(os.path.join(lake, "data_lake_ticket"))
    spark.createDataFrame(
        [(7, "label spark", 200)],
        "id long, name string, prio long",
    ).write.parquet(os.path.join(lake, "data_lake_label"))
    app = create_app(LakeService(spark, lake))
    app.testing = True
    c = app.test_client()

    # no table key at all — the reference's request shape; 'title'
    # exists only in tickets, so labels contribute nothing
    r = c.post("/search/advanced", data=json.dumps({
        "query": {"match": {"title": "ticket"}},
    }), content_type="application/json")
    hits = r.get_json()["hits"]
    assert hits["total"] == {"value": 2, "relation": "eq"}
    assert {h["_index"] for h in hits["hits"]} == {"data_lake_ticket"}

    # a shared field matches across tables; sort merges globally
    r = c.post("/search/advanced", data=json.dumps({
        "query": {"range": {"prio": {"gte": 100}}},
        "sort": [{"prio": {"order": "desc"}}],
    }), content_type="application/json")
    hits = r.get_json()["hits"]
    assert hits["total"] == {"value": 3, "relation": "eq"}
    assert [(h["_index"], h["sort"][0]) for h in hits["hits"]] == [
        ("data_lake_ticket", 300), ("data_lake_label", 200),
        ("data_lake_ticket", 100),
    ]

    # aggs stay single-table: a multi-match pattern is a clean 400
    r = c.post("/search/advanced", data=json.dumps({
        "query": {"match_all": {}},
        "aggs": {"x": {"terms": {"field": "prio"}}},
    }), content_type="application/json")
    assert r.status_code == 400
    assert "single concrete table" in r.get_json()["error"]

    # unsorted pattern totals: gte once the page+1 budget is consumed
    r = c.post("/search/advanced", data=json.dumps({
        "query": {"match_all": {}}, "k": 1,
    }), content_type="application/json")
    hits = r.get_json()["hits"]
    assert hits["total"] == {"value": 1, "relation": "gte"}
    assert len(hits["hits"]) == 1


def test_advanced_search_carries_aggregations(spark, tmp_path):
    import json
    import os

    flask = pytest.importorskip("flask")  # noqa: F841
    from sql_database_to_elastic_datalake_spark.api import (
        LakeService,
        create_app,
    )

    lake = str(tmp_path / "lake")
    spark.createDataFrame(
        [(1, "en", 100), (2, "en", 300), (3, "de", 200), (4, "de", 999)],
        "doc_id long, lang string, n_chars long",
    ).write.parquet(os.path.join(lake, "data_lake_doc"))
    app = create_app(LakeService(spark, lake))
    app.testing = True
    c = app.test_client()

    r = c.post("/search/advanced", data=json.dumps({
        "table": "data_lake_doc",
        "query": {"range": {"n_chars": {"lte": 500}}},
        "k": 1,
        "aggs": {"langs": {"terms": {"field": "lang"},
                           "aggs": {"mx": {"max": {"field": "n_chars"}}}}},
    }), content_type="application/json")
    body = r.get_json()
    assert r.status_code == 200
    # aggs run over the MATCHED set (doc 4 filtered out), independent
    # of the k=1 hits page — exactly ES's contract
    env = body["aggregations"]["langs"]
    assert [(b["key"], b["doc_count"]) for b in env["buckets"]] \
        == [("en", 2), ("de", 1)]
    assert env["buckets"][0]["mx"]["value"] == 300
    assert len(body["hits"]["hits"]) == 1

    # malformed aggs is a 400, same contract as a malformed query
    r = c.post("/search/advanced", data=json.dumps({
        "table": "data_lake_doc",
        "query": {"match_all": {}},
        "aggs": {"x": {"nope": {}}},
    }), content_type="application/json")
    assert r.status_code == 400


# --- property-based differential: run_aggs vs an independent pandas
# evaluator of the documented semantics ---------------------------------

import math
import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _pd_metric(spec: dict, sub: "object") -> dict:
    """Independent envelope for ONE metric agg over a pandas sub-frame."""
    kind, body = next(iter(spec.items()))
    s = sub[body["field"]]
    nn = s.dropna()

    def _v(x):
        return None if x is None or (isinstance(x, float) and math.isnan(x)) \
            else x

    if kind == "avg":
        return {"value": _v(nn.mean() if len(nn) else None)}
    if kind == "sum":
        return {"value": _v(nn.sum() if len(nn) else None)}
    if kind == "min":
        return {"value": _v(nn.min() if len(nn) else None)}
    if kind == "max":
        return {"value": _v(nn.max() if len(nn) else None)}
    if kind == "value_count":
        return {"value": int(len(nn))}
    if kind == "cardinality":
        return {"value": int(nn.nunique())}
    if kind == "missing":
        return {"doc_count": int(s.isna().sum())}
    if kind == "stats":
        return {"count": int(len(nn)),
                "min": _v(nn.min() if len(nn) else None),
                "max": _v(nn.max() if len(nn) else None),
                "avg": _v(nn.mean() if len(nn) else None),
                "sum": _v(nn.sum() if len(nn) else None)}
    raise AssertionError(kind)


def _pd_key(v):
    import datetime as _dt

    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if isinstance(v, _dt.datetime):
        return int(v.replace(tzinfo=_dt.timezone.utc).timestamp() * 1000)
    return v


def _pd_bucket_series(pdf, kind: str, body: dict):
    col = pdf[body["field"]]
    if kind == "terms":
        return col
    if kind == "histogram":
        iv = body["interval"]
        return (col // iv * iv)
    if kind == "date_histogram":
        cal = body.get("calendar_interval")
        if cal:
            return col.dt.floor({"day": "D", "hour": "h"}[cal])
        import re as _re

        m = _re.match(r"^(\d+)([smhd])$", body["fixed_interval"])
        secs = int(m.group(1)) * {"s": 1, "m": 60, "h": 3600,
                                  "d": 86400}[m.group(2)]
        epoch = col.astype("int64") // 10**9
        import pandas as _pd

        return _pd.to_datetime((epoch // secs * secs) * 10**9)
    raise AssertionError(kind)


def eval_aggs(pdf, aggs: dict) -> dict:
    out = {}
    for name, spec in aggs.items():
        sub = spec.get("aggs") or {}
        kinds = [k for k in spec if k != "aggs"]
        kind = kinds[0]
        body = spec[kind]
        if kind in ("avg", "sum", "min", "max", "value_count",
                    "cardinality", "stats", "missing"):
            out[name] = _pd_metric({kind: body}, pdf)
        elif kind == "terms":
            keyed = pdf[pdf[body["field"]].notna()]
            groups = sorted(
                keyed.groupby(body["field"], sort=False),
                key=lambda kv: (-len(kv[1]), kv[0]),
            )
            size = body.get("size", 10)
            top = groups[:size]
            out[name] = {
                "doc_count_error_upper_bound": 0,
                "sum_other_doc_count": int(
                    len(keyed) - sum(len(g) for _, g in top)),
                "buckets": [
                    {"key": _pd_key(k), "doc_count": int(len(g)),
                     **{n: _pd_metric(s, g) for n, s in sub.items()}}
                    for k, g in top
                ],
            }
        elif kind in ("histogram", "date_histogram"):
            keys = _pd_bucket_series(pdf, kind, body)
            keyed = pdf[keys.notna()].assign(__k=keys[keys.notna()])
            buckets = []
            for k, g in sorted(keyed.groupby("__k", sort=False),
                               key=lambda kv: kv[0]):
                b = {"key": _pd_key(k), "doc_count": int(len(g)),
                     **{n: _pd_metric(s, g) for n, s in sub.items()}}
                if kind == "date_histogram":
                    b["key_as_string"] = k.to_pydatetime().isoformat()
                buckets.append(b)
            out[name] = {"buckets": buckets}
        elif kind == "range":
            col = pdf[body["field"]]
            buckets = []
            for r in body["ranges"]:
                m = col.notna()
                if r.get("from") is not None:
                    m &= col >= r["from"]
                if r.get("to") is not None:
                    m &= col < r["to"]
                b = {"doc_count": int(m.sum())}
                parts = []
                if r.get("from") is not None:
                    b["from"] = r["from"]; parts.append(str(r["from"]))
                else:
                    parts.append("*")
                if r.get("to") is not None:
                    b["to"] = r["to"]; parts.append(str(r["to"]))
                else:
                    parts.append("*")
                b["key"] = r.get("key", "-".join(parts))
                buckets.append(b)
            out[name] = {"buckets": buckets}
        elif kind == "composite":
            names = [next(iter(s)) for s in body["sources"]]
            kinds_ = [next(iter(next(iter(s.values())))) for s in
                      body["sources"]]
            bodies = [next(iter(next(iter(s.values())).values()))
                      for s in body["sources"]]
            frame = pdf.copy()
            for n, kd, bd in zip(names, kinds_, bodies):
                frame[f"__{n}"] = _pd_bucket_series(frame, kd, bd)
                frame = frame[frame[f"__{n}"].notna()]
            size = body.get("size", 10)
            grouped = sorted(
                frame.groupby([f"__{n}" for n in names], sort=False),
                key=lambda kv: kv[0],
            )[:size]
            buckets = [
                {"key": {n: _pd_key(kt[i]) for i, n in enumerate(names)},
                 "doc_count": int(len(g)),
                 **{sn: _pd_metric(ss, g) for sn, ss in sub.items()}}
                for k, g in grouped
                for kt in [k if isinstance(k, tuple) else (k,)]
            ]
            env = {"buckets": buckets}
            if len(buckets) == size and buckets:
                env["after_key"] = buckets[-1]["key"]
            out[name] = env
        else:
            raise AssertionError(kind)
    return out


def _envelopes_equal(a, b, path=""):
    if isinstance(a, dict) and isinstance(b, dict):
        assert a.keys() == b.keys(), f"{path}: {a.keys()} vs {b.keys()}"
        for k in a:
            _envelopes_equal(a[k], b[k], f"{path}.{k}")
        return
    if isinstance(a, list) and isinstance(b, list):
        assert len(a) == len(b), f"{path}: {len(a)} vs {len(b)}"
        for i, (x, y) in enumerate(zip(a, b)):
            _envelopes_equal(x, y, f"{path}[{i}]")
        return
    an = a is None or (isinstance(a, float) and math.isnan(a))
    bn = b is None or (isinstance(b, float) and math.isnan(b))
    if an or bn:
        assert an and bn, f"{path}: {a!r} vs {b!r}"
        return
    if isinstance(a, float) or isinstance(b, float):
        assert a == pytest.approx(b, rel=1e-9, abs=1e-9), \
            f"{path}: {a!r} vs {b!r}"
        return
    assert a == b, f"{path}: {a!r} vs {b!r}"


_metric_leaf = st.sampled_from([
    {"avg": {"field": "n_chars"}}, {"sum": {"field": "n_chars"}},
    {"min": {"field": "n_chars"}}, {"max": {"field": "doc_id"}},
    {"value_count": {"field": "lang"}},
    {"cardinality": {"field": "lang"}},
    {"stats": {"field": "n_chars"}}, {"missing": {"field": "n_chars"}},
])
_sub_aggs = st.dictionaries(
    st.sampled_from(["m1", "m2"]), _metric_leaf, max_size=2)


def _with_sub(spec, sub):
    return {**spec, **({"aggs": sub} if sub else {})}


_bucket_leaf = st.one_of(
    st.builds(lambda sz, sub: _with_sub(
        {"terms": {"field": "lang", "size": sz}}, sub),
        st.sampled_from([1, 2, 10]), _sub_aggs),
    st.builds(lambda iv, sub: _with_sub(
        {"histogram": {"field": "n_chars", "interval": iv}}, sub),
        st.sampled_from([100, 250]), _sub_aggs),
    st.builds(lambda cal, sub: _with_sub(
        {"date_histogram": {"field": "ts", "calendar_interval": cal}}, sub),
        st.sampled_from(["day", "hour"]), _sub_aggs),
    st.builds(lambda fx, sub: _with_sub(
        {"date_histogram": {"field": "ts", "fixed_interval": fx}}, sub),
        st.sampled_from(["12h", "90m"]), _sub_aggs),
    st.just({"range": {"field": "n_chars", "ranges": [
        {"to": 200}, {"from": 100, "to": 400}, {"from": 300}]}}),
    st.builds(lambda srcs, sz, sub: _with_sub(
        {"composite": {"sources": srcs, "size": sz}}, sub),
        st.sampled_from([
            [{"l": {"terms": {"field": "lang"}}}],
            [{"l": {"terms": {"field": "lang"}}},
             {"b": {"histogram": {"field": "n_chars", "interval": 200}}}],
            [{"d": {"date_histogram": {"field": "ts",
                                       "calendar_interval": "day"}}}],
        ]),
        st.sampled_from([2, 3, 10]), _sub_aggs),
)

_aggs_spec = st.dictionaries(
    st.sampled_from(["a", "b"]),
    st.one_of(_metric_leaf, _bucket_leaf),
    min_size=1, max_size=2,
)


class TestAggsDifferential:
    @settings(
        max_examples=int(os.environ.get("SPARK_GRAFT_HYP_EXAMPLES", "25")),
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(aggs=_aggs_spec)
    def test_run_aggs_matches_pandas_eval(self, spark, docs, aggs):
        got = run_aggs(docs, aggs)
        want = eval_aggs(docs.toPandas(), aggs)
        _envelopes_equal(got, want)


# ---------------------------------------------------------------------------
# r7: date_histogram time_zone/offset/format, composite missing_bucket,
# metric-ordered nested chains, top_hits _source, nested flat budget
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def dst_events(spark):
    """Hourly points spanning the 2024-03-10 US spring-forward (the
    2:00→3:00 EST→EDT gap): the New-York 'day' is 23 UTC hours."""
    rows = [
        (i, dt.datetime(2024, 3, 9, 0, 0) + dt.timedelta(hours=3 * i))
        for i in range(32)  # 2024-03-09 00:00 .. 2024-03-12 21:00 UTC
    ]
    return spark.createDataFrame(rows, "id long, ts timestamp")


def test_date_histogram_time_zone_dst_day(dst_events):
    out = run_aggs(dst_events, {"d": {"date_histogram": {
        "field": "ts", "calendar_interval": "day",
        "time_zone": "America/New_York"}}})
    buckets = out["d"]["buckets"]
    # NY local days start at 05:00 UTC (EST) before the transition and
    # 04:00 UTC (EDT) after — the Mar 10 bucket is 23 hours long
    keys = [b["key_as_string"] for b in buckets]
    assert keys[0].startswith("2024-03-08T00:00:00-05:00")
    assert any(k.startswith("2024-03-10T00:00:00-05:00") for k in keys)
    assert any(k.startswith("2024-03-11T00:00:00-04:00") for k in keys)
    by_day = {b["key_as_string"][:10]: b["doc_count"] for b in buckets}
    # hand-check via zoneinfo: count points per NY-local calendar day
    from zoneinfo import ZoneInfo

    import collections

    want = collections.Counter(
        (dt.datetime(2024, 3, 9, 0, 0) + dt.timedelta(hours=3 * i))
        .replace(tzinfo=dt.timezone.utc)
        .astimezone(ZoneInfo("America/New_York")).strftime("%Y-%m-%d")
        for i in range(32)
    )
    assert by_day == dict(want)
    # the numeric key stays the UTC epoch instant (ES contract)
    first = buckets[0]
    assert first["key"] == int(
        dt.datetime(2024, 3, 8, 5, 0, tzinfo=dt.timezone.utc)
        .timestamp() * 1000)


def test_date_histogram_offset_shifts_boundaries(dst_events):
    out = run_aggs(dst_events, {"d": {"date_histogram": {
        "field": "ts", "calendar_interval": "day", "offset": "-6h"}}})
    # -6h: UTC day buckets run 18:00→18:00
    ks = [b["key_as_string"] for b in out["d"]["buckets"]]
    assert all(k.endswith("T18:00:00") for k in ks)


def test_date_histogram_tz_gap_fill_steps_local_days(spark):
    """min_doc_count:0 with time_zone: the dense sequence steps in
    LOCAL wall-clock days, so the 23-hour DST day doesn't desync the
    gap keys from the data keys."""
    rows = [(1, dt.datetime(2024, 3, 9, 12, 0)),
            (2, dt.datetime(2024, 3, 13, 12, 0))]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    out = run_aggs(df, {"d": {"date_histogram": {
        "field": "ts", "calendar_interval": "day",
        "time_zone": "America/New_York", "min_doc_count": 0}}})
    buckets = out["d"]["buckets"]
    assert [b["doc_count"] for b in buckets] == [1, 0, 0, 0, 1]
    days = [b["key_as_string"][:10] for b in buckets]
    assert days == ["2024-03-09", "2024-03-10", "2024-03-11",
                    "2024-03-12", "2024-03-13"]
    # every bucket key is the LOCAL midnight instant, gap rows included
    assert all(b["key_as_string"][10:19] == "T00:00:00" for b in buckets)


def test_date_histogram_format_and_rejections(docs):
    out = run_aggs(docs, {"d": {"date_histogram": {
        "field": "ts", "calendar_interval": "day",
        "format": "yyyy/MM/dd"}}})
    assert out["d"]["buckets"][0]["key_as_string"] == "2024/01/01"
    out = run_aggs(docs, {"d": {"date_histogram": {
        "field": "ts", "calendar_interval": "day",
        "format": "epoch_millis"}}})
    b = out["d"]["buckets"][0]
    assert b["key_as_string"] == str(b["key"])
    # an unimplemented pattern token must 400 by name, not render wrong
    with pytest.raises(DslError, match="unsupported date format"):
        run_aggs(docs, {"d": {"date_histogram": {
            "field": "ts", "calendar_interval": "day",
            "format": "yyyy-ww"}}})


def test_composite_missing_bucket_pages_null_first(docs):
    from sql_database_to_elastic_datalake_spark.plans.es_aggs import (
        composite_frame,
    )

    body = {"sources": [
        {"l": {"terms": {"field": "lang", "missing_bucket": True}}},
        {"n": {"terms": {"field": "n_chars"}}},
    ], "size": 3}
    # page 1: the null-lang bucket sorts FIRST
    out = run_aggs(docs, {"c": {"composite": body}})
    page1 = out["c"]["buckets"]
    assert page1[0]["key"]["l"] is None
    assert page1[0]["doc_count"] == 1  # doc 6
    # resume from a cursor INSIDE the null run: null cursor value
    rows = composite_frame(
        docs, {**body, "after": {"l": None, "n": 0}}).collect()
    # all null-lang buckets with n_chars > 0 come first, then 'de'…
    assert rows[0]["l"] is None and rows[0]["n"] == 999
    assert rows[1]["l"] == "de"
    # without missing_bucket the null keys stay excluded (ES default)
    out = run_aggs(docs, {"c": {"composite": {"sources": [
        {"l": {"terms": {"field": "lang"}}}], "size": 10}}})
    assert all(b["key"]["l"] is not None for b in out["c"]["buckets"])


def test_nested_chain_metric_order(spark):
    """Kibana's 'order by metric' on a nested terms panel: the top
    level truncates by the rolled-up metric, not _count."""
    rows = [
        # lang, n_chars: avg en=200 (3 docs), de=300 (2), fr=500 (1)
        (1, "en", 100, "a"), (2, "en", 200, "b"), (3, "en", 300, "a"),
        (4, "de", 250, "a"), (5, "de", 350, "b"),
        (6, "fr", 500, "a"),
    ]
    df = spark.createDataFrame(
        rows, "id long, lang string, n_chars long, src string")
    out = run_aggs(df, {"langs": {
        "terms": {"field": "lang", "size": 2,
                  "order": {"avg_c": "desc"}},
        "aggs": {
            "avg_c": {"avg": {"field": "n_chars"}},
            "by_src": {"terms": {"field": "src"}},
        },
    }})
    env = out["langs"]
    assert [b["key"] for b in env["buckets"]] == ["fr", "de"]
    assert env["buckets"][1]["avg_c"]["value"] == pytest.approx(300.0)
    # child buckets still assemble under the metric-ordered parents
    assert [b["key"] for b in env["buckets"][1]["by_src"]["buckets"]] \
        == ["a", "b"]
    # sum_other counts the truncated-away parents' docs
    assert env["sum_other_doc_count"] == 3
    # stats-path ordering works too; unknown target still errors
    out = run_aggs(df, {"langs": {
        "terms": {"field": "lang", "order": {"st.max": "asc"}},
        "aggs": {"st": {"stats": {"field": "n_chars"}},
                 "by_src": {"terms": {"field": "src"}}},
    }})
    assert [b["key"] for b in out["langs"]["buckets"]] \
        == ["en", "de", "fr"]
    with pytest.raises(DslError, match="unknown sub-agg"):
        run_aggs(df, {"langs": {
            "terms": {"field": "lang", "order": {"nope": "asc"}},
            "aggs": {"by_src": {"terms": {"field": "src"}}},
        }})


def test_top_hits_source_filtering_applied(docs):
    """r6 advisory: a top_hits `_source` spec must restrict the
    returned fields (listed-but-unapplied handed saved queries extra
    fields with no error)."""
    out = run_aggs(docs, {"langs": {
        "terms": {"field": "lang", "size": 1},
        "aggs": {"hit": {"top_hits": {
            "size": 1, "sort": [{"n_chars": "desc"}],
            "_source": ["doc_id", "lang"]}}},
    }})
    src = out["langs"]["buckets"][0]["hit"]["hits"]["hits"][0]["_source"]
    assert sorted(src) == ["doc_id", "lang"]


def test_nested_chain_flat_budget_enforced(docs, monkeypatch):
    """r6 advisory: the nested-chain collect is hard-bounded — an
    over-budget composite key product is a named error, not a driver
    OOM."""
    import sql_database_to_elastic_datalake_spark.plans.es_aggs as ea

    monkeypatch.setattr(ea, "_NESTED_FLAT_BUDGET", 2)
    with pytest.raises(DslError, match="flat buckets"):
        run_aggs(docs, {"langs": {
            "terms": {"field": "lang"},
            "aggs": {"days": {"date_histogram": {
                "field": "ts", "calendar_interval": "day"}}},
        }})


def test_numeric_histogram_offset_and_keyed(docs):
    """r7: ES numeric-histogram offset shifts bucket boundaries;
    keyed:true returns buckets as an object."""
    out = run_aggs(docs, {"h": {"histogram": {
        "field": "n_chars", "interval": 100, "offset": 50}}})
    # values 100,300,200,400,50,999 → offset-50 buckets
    assert [(b["key"], b["doc_count"]) for b in out["h"]["buckets"]] \
        == [(50, 2), (150, 1), (250, 1), (350, 1), (950, 1)]
    # offset outside [0, interval) is ES's named error
    with pytest.raises(DslError, match="offset"):
        run_aggs(docs, {"h": {"histogram": {
            "field": "n_chars", "interval": 10, "offset": 15}}})
    # offset + min_doc_count:0 gap-fills on the shifted grid
    out = run_aggs(docs.filter("doc_id in (1, 4)"), {"h": {"histogram": {
        "field": "n_chars", "interval": 100, "offset": 50,
        "min_doc_count": 0}}})
    assert [(b["key"], b["doc_count"]) for b in out["h"]["buckets"]] \
        == [(50, 1), (150, 0), (250, 0), (350, 1)]
    # keyed object envelopes: numeric histogram and range
    out = run_aggs(docs, {"h": {"histogram": {
        "field": "n_chars", "interval": 500, "keyed": True}}})
    assert out["h"]["buckets"] == {
        "0": {"key": 0, "doc_count": 5},
        "500": {"key": 500, "doc_count": 1},
    }
    out = run_aggs(docs, {"r": {"range": {
        "field": "n_chars", "keyed": True,
        "ranges": [{"to": 200}, {"from": 200, "key": "big"}]}}})
    assert out["r"]["buckets"] == {
        "*-200": {"doc_count": 2, "to": 200},
        "big": {"doc_count": 4, "from": 200},
    }


def test_date_histogram_keyed_uses_key_as_string(docs):
    out = run_aggs(docs, {"d": {"date_histogram": {
        "field": "ts", "calendar_interval": "day", "keyed": True,
        "format": "yyyy-MM-dd"}}})
    b = out["d"]["buckets"]
    assert set(b) == {"2024-01-01", "2024-01-02", "2024-01-03"}
    assert b["2024-01-01"]["doc_count"] == 3
    # keyed inside a nested chain stays a named error (list assembly)
    with pytest.raises(DslError, match="keyed"):
        run_aggs(docs, {"t": {
            "terms": {"field": "lang"},
            "aggs": {"d": {"date_histogram": {
                "field": "ts", "calendar_interval": "day",
                "keyed": True}}},
        }})


def test_composite_source_order_desc(docs):
    """r7: per-source ``order: desc`` — key-descending pages with a
    direction-aware cursor; ES's missing_order default puts the null
    bucket LAST under desc."""
    from sql_database_to_elastic_datalake_spark.plans.es_aggs import (
        composite_frame,
    )

    body = {"sources": [
        {"l": {"terms": {"field": "lang", "order": "desc",
                         "missing_bucket": True}}},
        {"n": {"terms": {"field": "n_chars"}}},
    ], "size": 3}
    out = run_aggs(docs, {"c": {"composite": body}})
    page1 = out["c"]["buckets"]
    # lang desc: fr, en, en… (null lang last)
    assert [b["key"]["l"] for b in page1] == ["fr", "en", "en"]
    assert out["c"]["after_key"] == page1[-1]["key"]
    # resume: the cursor advances past en into de, then null last
    # (doc 7's null n_chars is dropped by the second source — no
    # missing_bucket there)
    rows = composite_frame(
        docs, {**body, "size": 10, "after": page1[-1]["key"]}).collect()
    assert [r["l"] for r in rows] == ["de", "de", None]
    # cursor inside the trailing null run under desc
    rows = composite_frame(
        docs, {**body, "size": 10,
               "after": {"l": None, "n": 0}}).collect()
    assert [(r["l"], r["n"]) for r in rows] == [(None, 999)]


def test_advanced_search_aggs_only_body(spark, tmp_path):
    """ES defaults an omitted query to match_all — aggs-only bodies
    (a standard Kibana shape) must not 500 on the missing key."""
    import json

    pytest.importorskip("flask")
    from sql_database_to_elastic_datalake_spark.api import (
        LakeService, create_app,
    )

    svc = LakeService(spark, str(tmp_path))
    svc.ingest("label", [{"name": "a", "color": "red"},
                         {"name": "b", "color": "red"},
                         {"name": "c", "color": "blue"}])
    app = create_app(svc)
    app.testing = True
    client = app.test_client()
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_label", "size": 0,
        "aggs": {"colors": {"terms": {"field": "color"}}},
    }), content_type="application/json")
    assert r.status_code == 200
    body = r.get_json()
    assert body["hits"]["total"]["value"] == 3
    buckets = {b["key"]: b["doc_count"]
               for b in body["aggregations"]["colors"]["buckets"]}
    assert buckets == {"red": 2, "blue": 1}


def test_pipeline_aggs(docs):
    """r7: pipeline aggregations — sibling reductions
    ({avg,sum,min,max,stats}_bucket) and parent running transforms
    (cumulative_sum, derivative) over computed bucket lists. No extra
    job: driver-side over the returned envelopes."""
    out = run_aggs(docs, {
        "days": {
            "date_histogram": {"field": "ts",
                               "calendar_interval": "day"},
            "aggs": {
                "avg_c": {"avg": {"field": "n_chars"}},
                "cum": {"cumulative_sum": {"buckets_path": "_count"}},
                "dx": {"derivative": {"buckets_path": "_count"}},
            },
        },
        "avg_daily": {"avg_bucket": {"buckets_path": "days>_count"}},
        "max_avg": {"max_bucket": {"buckets_path": "days>avg_c"}},
        "st": {"stats_bucket": {"buckets_path": "days>_count"}},
    })
    days = out["days"]["buckets"]
    assert [b["doc_count"] for b in days] == [3, 2, 2]
    assert [b["cum"]["value"] for b in days] == [3, 5, 7]
    # ES omits derivative from the first bucket
    assert "dx" not in days[0]
    assert [b["dx"]["value"] for b in days[1:]] == [-1, 0]
    assert out["avg_daily"]["value"] == pytest.approx(7 / 3)
    # avg_c per day: (100+300)/2=200, 300, (50+999)/2=524.5
    assert out["max_avg"]["value"] == pytest.approx(524.5)
    assert out["st"] == {"count": 3, "min": 2, "max": 3,
                         "avg": pytest.approx(7 / 3), "sum": 7}
    # stats-path addressing and error naming
    out = run_aggs(docs, {
        "days": {"date_histogram": {"field": "ts",
                                    "calendar_interval": "day"},
                 "aggs": {"s": {"stats": {"field": "n_chars"}}}},
        "mx": {"max_bucket": {"buckets_path": "days>s.max"}},
    })
    assert out["mx"]["value"] == 999
    with pytest.raises(DslError, match="unknown metric"):
        run_aggs(docs, {
            "days": {"date_histogram": {"field": "ts",
                                        "calendar_interval": "day"}},
            "b": {"avg_bucket": {"buckets_path": "days>nope"}},
        })
    with pytest.raises(DslError, match="gap_policy"):
        run_aggs(docs, {
            "days": {"date_histogram": {"field": "ts",
                                        "calendar_interval": "day"}},
            "b": {"avg_bucket": {"buckets_path": "days>_count",
                                 "gap_policy": "insert_zeros"}},
        })
    with pytest.raises(DslError, match="sibling bucket"):
        run_aggs(docs, {"b": {"avg_bucket": {
            "buckets_path": "nope>_count"}}})


def test_filters_aggregation(docs):
    """r7: the ES `filters` (plural) agg — one bucket per named
    predicate, all in ONE conditional-aggregation job; other_bucket
    catches matched-by-none; metric subs gate per filter."""
    out = run_aggs(docs, {"f": {
        "filters": {"filters": {
            "short": {"range": {"n_chars": {"lt": 200}}},
            "en": {"term": {"lang": "en"}},
        }, "other_bucket": True},
        "aggs": {"mx": {"max": {"field": "n_chars"}}},
    }})
    b = out["f"]["buckets"]
    assert b["short"]["doc_count"] == 2      # 100, 50
    assert b["short"]["mx"]["value"] == 100
    assert b["en"]["doc_count"] == 3
    assert b["en"]["mx"]["value"] == 300
    # docs matching neither: 3 (de,de) + doc6 (null lang, 999)
    assert b["_other_"]["doc_count"] == 3
    assert b["_other_"]["mx"]["value"] == 999
    # anonymous list form → list buckets, custom other key
    out = run_aggs(docs, {"f": {"filters": {
        "filters": [{"term": {"lang": "fr"}}],
        "other_bucket_key": "rest",
    }}})
    assert out["f"]["buckets"]["0"]["doc_count"] if False else True
    # list form returns a LIST plus the named other bucket... ES puts
    # the other bucket at the end of the list under the given key only
    # for the dict form; our list form appends it as an extra entry
    bl = out["f"]["buckets"]
    assert isinstance(bl, list) and bl[0]["doc_count"] == 1
    assert bl[1]["doc_count"] == 6


def test_date_range_aggregation(docs):
    out = run_aggs(docs, {"dr": {"date_range": {
        "field": "ts",
        "ranges": [
            {"to": "2024-01-02"},
            {"from": "2024-01-02", "to": "2024-01-03", "key": "mid"},
            {"from": "2024-01-03"},
        ],
    }}})
    b = out["dr"]["buckets"]
    assert [x["doc_count"] for x in b] == [3, 2, 2]
    assert b[1]["key"] == "mid"
    assert b[0]["to"] == int(dt.datetime(
        2024, 1, 2, tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert b[2]["from_as_string"].startswith("2024-01-03")
    # keyed + epoch-millis bounds
    out = run_aggs(docs, {"dr": {"date_range": {
        "field": "ts", "keyed": True,
        "ranges": [{"from": 1704153600000}],  # 2024-01-02T00:00Z
    }}})
    (k, v), = out["dr"]["buckets"].items()
    assert v["doc_count"] == 4 and k.startswith("2024-01-02")
    # date math is a named 400, not a silently-wrong wall-clock read
    with pytest.raises(DslError, match="date-math"):
        run_aggs(docs, {"dr": {"date_range": {
            "field": "ts", "ranges": [{"from": "now-1d"}]}}})


def test_terms_include_exclude(docs):
    """r7: terms include/exclude — value lists and anchored regex,
    applied before ordering/truncation; totals re-scope."""
    out = run_aggs(docs, {"t": {"terms": {
        "field": "lang", "include": ["en", "fr"]}}})
    env = out["t"]
    assert [b["key"] for b in env["buckets"]] == ["en", "fr"]
    assert env["sum_other_doc_count"] == 0  # de is outside the scope
    out = run_aggs(docs, {"t": {"terms": {
        "field": "lang", "exclude": "e.*"}}})
    assert [b["key"] for b in out["t"]["buckets"]] == ["de", "fr"]
    # regex include anchors to the WHOLE value (Lucene semantics)
    out = run_aggs(docs, {"t": {"terms": {
        "field": "lang", "include": "e"}}})
    assert out["t"]["buckets"] == []
    # inside a nested chain the filter is bucket-level: parent
    # doc_counts keep counting excluded children
    out = run_aggs(docs, {"days": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {"langs": {"terms": {"field": "lang",
                                     "include": ["de"]}}},
    }})
    day2 = out["days"]["buckets"][1]
    assert day2["doc_count"] == 2
    assert [b["key"] for b in day2["langs"]["buckets"]] == ["de"]
    day1 = out["days"]["buckets"][0]  # en-only day: no buckets survive
    assert day1["doc_count"] == 3
    assert day1["langs"]["buckets"] == []
    # r10: the partition form is implemented —
    # test_terms_include_partitions covers it; a malformed spec 400s
    with pytest.raises(DslError, match="partition"):
        run_aggs(docs, {"t": {"terms": {
            "field": "lang", "include": {"partition": -1,
                                         "num_partitions": 2}}}})


def test_tsvb_pipeline_family(docs):
    """r7: the rest of the TSVB pipeline staples — bucket_script /
    bucket_selector / bucket_sort (scripted algebra over computed
    buckets), moving_fn / serial_diff (ordered running transforms),
    percentiles_bucket (sibling reduction). All driver-side over the
    returned envelopes; scripts go through the safe evaluator, never
    eval()."""
    out = run_aggs(docs, {
        "days": {
            "date_histogram": {"field": "ts",
                               "calendar_interval": "day"},
            "aggs": {
                "avg_c": {"avg": {"field": "n_chars"}},
                "ratio": {"bucket_script": {
                    "buckets_path": {"a": "avg_c", "c": "_count"},
                    "script": "params.a * params.c"}},
                "mov": {"moving_fn": {
                    "buckets_path": "_count", "window": 2,
                    "script": "MovingFunctions.unweightedAvg(values)"}},
                "sd": {"serial_diff": {"buckets_path": "_count",
                                       "lag": 2}},
            },
        },
        "p": {"percentiles_bucket": {"buckets_path": "days>_count",
                                     "percents": [0, 50, 100]}},
    })
    days = out["days"]["buckets"]
    # counts [3,2,2]; avg_c [200, 300, 524.5]
    assert [b["ratio"]["value"] for b in days] == \
        [600, 600, pytest.approx(1049)]
    # moving_fn window 2 shift 0: previous-two average, current
    # excluded; an empty window yields no value (like ES's null)
    assert "mov" not in days[0]
    assert days[1]["mov"]["value"] == pytest.approx(3.0)
    assert days[2]["mov"]["value"] == pytest.approx(2.5)
    # serial_diff lag 2 emits only once both points exist
    assert "sd" not in days[0] and "sd" not in days[1]
    assert days[2]["sd"]["value"] == -1
    # percentiles_bucket: ES's nearest-rank over sorted [2,2,3]
    assert out["p"]["values"] == {"0.0": 2, "50.0": 2, "100.0": 3}

    # bucket_selector drops buckets; bucket_sort reorders and slices
    out = run_aggs(docs, {"days": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {
            "avg_c": {"avg": {"field": "n_chars"}},
            "keep": {"bucket_selector": {
                "buckets_path": {"c": "_count"},
                "script": "params.c <= 2"}},
            "bs": {"bucket_sort": {"sort": [{"avg_c": "desc"}],
                                   "size": 1}},
        },
    }})
    days = out["days"]["buckets"]
    assert len(days) == 1
    assert days[0]["avg_c"]["value"] == pytest.approx(524.5)

    # the script family also runs under terms (unordered parent)...
    out = run_aggs(docs, {"langs": {
        "terms": {"field": "lang"},
        "aggs": {
            "avg_c": {"avg": {"field": "n_chars"}},
            "big": {"bucket_selector": {
                "buckets_path": {"a": "avg_c"},
                "script": "params.a >= 300"}},
        },
    }})
    # avg_c per lang: en 200, de 300, fr 50 — only de survives
    assert [b["key"] for b in out["langs"]["buckets"]] == ["de"]
    # ...but the running family needs histogram ordering, like ES
    with pytest.raises(DslError, match="histogram"):
        run_aggs(docs, {"langs": {
            "terms": {"field": "lang"},
            "aggs": {"c": {"cumulative_sum":
                           {"buckets_path": "_count"}}},
        }})
    # unsupported moving_fn scripts and malformed algebra are named
    with pytest.raises(DslError, match="moving_fn script"):
        run_aggs(docs, {"days": {
            "date_histogram": {"field": "ts",
                               "calendar_interval": "day"},
            "aggs": {"m": {"moving_fn": {
                "buckets_path": "_count", "window": 2,
                "script": "MovingFunctions.holtWinters(values)"}}},
        }})
    with pytest.raises(DslError, match="bucket script"):
        run_aggs(docs, {"days": {
            "date_histogram": {"field": "ts",
                               "calendar_interval": "day"},
            "aggs": {"m": {"bucket_script": {
                "buckets_path": {"c": "_count"},
                "script": "Math.log(params.c)"}}},
        }})


def test_multi_terms_and_rare_terms(docs):
    """r7: multi_terms (groupBy on the key tuple, count-desc with
    tuple tie-break, docs missing ANY key excluded) and rare_terms
    (exact long-tail buckets, count-asc)."""
    out = run_aggs(docs, {"mt": {
        "multi_terms": {"terms": [{"field": "lang"},
                                  {"field": "n_chars"}], "size": 10},
    }})
    b = out["mt"]["buckets"]
    # doc6 (null lang) and doc7 (null n_chars) are excluded
    assert sum(x["doc_count"] for x in b) == 5
    assert all(len(x["key"]) == 2 for x in b)
    assert b[0]["key_as_string"].count("|") == 1
    # per-term missing folds nulls into a named value
    out = run_aggs(docs, {"mt": {
        "multi_terms": {"terms": [
            {"field": "lang", "missing": "??"},
            {"field": "doc_id"}], "size": 10},
    }})
    assert sum(x["doc_count"]
               for x in out["mt"]["buckets"]) == 7
    assert any(x["key"][0] == "??" for x in out["mt"]["buckets"])
    with pytest.raises(DslError, match="two or more"):
        run_aggs(docs, {"mt": {"multi_terms": {
            "terms": [{"field": "lang"}]}}})

    out = run_aggs(docs, {"r": {
        "rare_terms": {"field": "lang", "max_doc_count": 2},
    }})
    # lang counts: en 3, de 2, fr 1 → rare (<=2): fr then de
    assert [(b["key"], b["doc_count"])
            for b in out["r"]["buckets"]] == [("fr", 1), ("de", 2)]
    with pytest.raises(DslError, match="sub-aggregations"):
        run_aggs(docs, {"r": {
            "rare_terms": {"field": "lang"},
            "aggs": {"m": {"max": {"field": "n_chars"}}}}})


def test_auto_date_histogram(docs):
    """r7: auto_date_histogram picks the smallest ladder interval
    fitting the bucket target and gap-fills like min_doc_count 0."""
    # span Jan 1-3; target 10 → 12h rung (5 buckets), epoch-floored
    out = run_aggs(docs, {"a": {
        "auto_date_histogram": {"field": "ts", "buckets": 10},
        "aggs": {"mx": {"max": {"field": "n_chars"}}},
    }})
    assert out["a"]["interval"] == "12h"
    b = out["a"]["buckets"]
    assert [x["doc_count"] for x in b] == [3, 0, 1, 1, 2]
    assert b[1]["mx"]["value"] is None  # gap-filled empty bucket
    # a 3-bucket target climbs the ladder to 1d
    out = run_aggs(docs, {"a": {
        "auto_date_histogram": {"field": "ts", "buckets": 3},
    }})
    assert out["a"]["interval"] == "1d"
    assert [x["doc_count"] for x in out["a"]["buckets"]] == [3, 2, 2]
    # minimum_interval skips the fine rungs
    out = run_aggs(docs, {"a": {
        "auto_date_histogram": {"field": "ts", "buckets": 1000,
                                "minimum_interval": "day"},
    }})
    assert out["a"]["interval"] == "1d"
    with pytest.raises(DslError, match="minimum_interval"):
        run_aggs(docs, {"a": {"auto_date_histogram": {
            "field": "ts", "minimum_interval": "fortnight"}}})


def test_auto_date_histogram_date_typed_field(spark):
    """r8 (r7 ADVICE): a DATE-typed field used to raise a bare
    TypeError (date.replace rejects tzinfo) — bounds are now
    midnight-anchored and the agg runs; a non-date column is a named
    400, not an unnamed 500."""
    df = spark.createDataFrame(
        [(1, dt.date(2024, 1, 1)), (2, dt.date(2024, 1, 2)),
         (3, dt.date(2024, 1, 5))],
        "id long, d date",
    )
    out = run_aggs(df, {"a": {
        "auto_date_histogram": {"field": "d", "buckets": 10},
    }})
    # Jan 1 → Jan 5 midnight-anchored: 9 12-hour buckets fit in 10
    assert out["a"]["interval"] == "12h"
    assert [x["doc_count"] for x in out["a"]["buckets"]] == \
        [1, 0, 1, 0, 0, 0, 0, 0, 1]
    with pytest.raises(DslError, match="not a date"):
        run_aggs(df, {"a": {"auto_date_histogram": {
            "field": "id", "buckets": 10}}})


def test_nested_and_reverse_nested(spark):
    """r7: nested agg switches scope to array elements (ONE explode,
    no shuffle before the groupBy); reverse_nested counts DISTINCT
    parents per bucket in the same job."""
    rows = [
        (1, [("a", 10), ("b", 20)]),
        (2, [("a", 30)]),
        (3, [("b", 5), ("b", 6), ("c", 1)]),
        (4, None),
    ]
    df = spark.createDataFrame(
        rows, "id long, labels array<struct<name:string,qty:long>>")
    out = run_aggs(df, {"lab": {
        "nested": {"path": "labels"},
        "aggs": {"names": {
            "terms": {"field": "labels.name"},
            "aggs": {"avg_q": {"avg": {"field": "labels.qty"}},
                     "parents": {"reverse_nested": {}}},
        }},
    }})
    assert out["lab"]["doc_count"] == 6
    b = {x["key"]: x for x in out["lab"]["names"]["buckets"]}
    assert b["b"]["doc_count"] == 3
    assert b["b"]["parents"]["doc_count"] == 2   # docs 1 and 3
    assert b["b"]["avg_q"]["value"] == pytest.approx(31 / 3)
    assert b["a"]["parents"]["doc_count"] == 2
    assert b["c"]["doc_count"] == 1
    # metrics-only nested scope: doc_count + the metric, one job
    out = run_aggs(df, {"lab": {
        "nested": {"path": "labels"},
        "aggs": {"mx": {"max": {"field": "labels.qty"}}},
    }})
    assert out["lab"] == {"mx": {"value": 30}, "doc_count": 6}
    # unmapped path aggregates nothing, like ES
    out = run_aggs(df, {"lab": {"nested": {"path": "nope"}}})
    assert out["lab"] == {"doc_count": 0}
    # fields outside the path are named errors
    with pytest.raises(DslError, match="under 'labels'"):
        run_aggs(df, {"lab": {
            "nested": {"path": "labels"},
            "aggs": {"m": {"max": {"field": "id"}}}}})
    # a non-array path is the client's error
    with pytest.raises(DslError, match="array-of-object"):
        run_aggs(df, {"lab": {"nested": {"path": "id"}}})


def test_extended_stats_ranks_weighted_avg_mad(docs):
    """r7 metric additions: extended_stats moments + sigma bounds,
    exact percentile_ranks, weighted_avg with both-null skipping,
    exact two-pass MAD."""
    out = run_aggs(docs, {
        "es": {"extended_stats": {"field": "n_chars", "sigma": 1}},
        "pr": {"percentile_ranks": {"field": "n_chars",
                                    "values": [100, 500]}},
        "wa": {"weighted_avg": {"value": {"field": "n_chars"},
                                "weight": {"field": "doc_id"}}},
        "mad": {"median_absolute_deviation": {"field": "n_chars"}},
    })
    e = out["es"]
    # n_chars: 100,300,200,400,50,999 (doc7 null)
    assert e["count"] == 6 and e["min"] == 50 and e["max"] == 999
    assert e["sum"] == 2049
    avg = 2049 / 6
    assert e["avg"] == pytest.approx(avg)
    var = sum((x - avg) ** 2 for x in (100, 300, 200, 400, 50, 999)) / 6
    assert e["variance"] == pytest.approx(var)
    assert e["std_deviation_bounds"]["upper"] == pytest.approx(
        avg + var ** 0.5)
    assert e["variance_sampling"] == pytest.approx(var * 6 / 5)
    # ranks: <=100 → 2/6, <=500 → 5/6
    assert out["pr"]["values"]["100.0"] == pytest.approx(200 / 6)
    assert out["pr"]["values"]["500.0"] == pytest.approx(500 / 6)
    # weighted: doc7 has null n_chars → skipped entirely
    num = 100*1 + 300*2 + 200*3 + 400*4 + 50*5 + 999*6
    assert out["wa"]["value"] == pytest.approx(num / 21)
    # sorted n_chars: 50,100,200,300,400,999 → median 250;
    # |x-250|: 200,150,50,50,150,749 → sorted 50,50,150,150,200,749
    # → median 150
    assert out["mad"]["value"] == pytest.approx(150.0)
    # under terms buckets, extended_stats rides the same groupBy
    out = run_aggs(docs, {"langs": {
        "terms": {"field": "lang", "size": 1},
        "aggs": {"es": {"extended_stats": {"field": "n_chars"}}},
    }})
    b = out["langs"]["buckets"][0]
    assert b["key"] == "en" and b["es"]["count"] == 2
    assert b["es"]["avg"] == pytest.approx(200.0)


def test_top_metrics(docs):
    """r7: top_metrics — the metric values from the doc with the
    extreme sort value; size 1 default (Lens "last value"), window
    top-k under terms."""
    out = run_aggs(docs, {"tm": {"top_metrics": {
        "metrics": [{"field": "lang"}, {"field": "n_chars"}],
        "sort": [{"ts": "desc"}],
    }}})
    (top,) = out["tm"]["top"]
    assert top["metrics"] == {"lang": None, "n_chars": 999}
    out = run_aggs(docs, {"langs": {
        "terms": {"field": "lang"},
        "aggs": {"first": {"top_metrics": {
            "metrics": {"field": "n_chars"},
            "sort": [{"ts": "asc"}], "size": 2,
        }}},
    }})
    b = {x["key"]: x for x in out["langs"]["buckets"]}
    # en sorted by ts asc: doc1 (100), doc7 (null) — size 2
    assert [t["metrics"]["n_chars"]
            for t in b["en"]["first"]["top"]] == [100, None]
    assert b["fr"]["first"]["top"][0]["metrics"]["n_chars"] == 50
    with pytest.raises(DslError, match="exactly one sort"):
        run_aggs(docs, {"tm": {"top_metrics": {
            "metrics": {"field": "n_chars"},
            "sort": [{"ts": "asc"}, {"doc_id": "asc"}]}}})


def test_global_and_adjacency_matrix(docs):
    """r7: the global bucket sees the unfiltered table while siblings
    see the query scope; adjacency_matrix computes pairwise filter
    intersections in one conditional-agg job."""
    scoped = docs.filter("lang = 'en'")
    out = run_aggs(scoped, {
        "n": {"value_count": {"field": "doc_id"}},
        "all": {"global": {}, "aggs": {
            "mx": {"max": {"field": "n_chars"}}}},
    }, background=docs)
    assert out["n"]["value"] == 3          # en docs only
    assert out["all"]["doc_count"] == 7    # whole table
    assert out["all"]["mx"]["value"] == 999
    with pytest.raises(DslError, match="global needs"):
        run_aggs(scoped, {"all": {"global": {}}})
    out = run_aggs(docs, {"am": {"adjacency_matrix": {
        "filters": {
            "en": {"term": {"lang": "en"}},
            "short": {"range": {"n_chars": {"lte": 200}}},
            "zz": {"term": {"lang": "zz"}},
        },
        "separator": "+",
    }}})
    b = {x["key"]: x["doc_count"] for x in out["am"]["buckets"]}
    # en: 3; short (100,200,50): 3; en+short: doc1 only; zz cells
    # are empty and omitted like ES
    assert b == {"en": 3, "short": 3, "en+short": 1}
    with pytest.raises(DslError, match="named filters"):
        run_aggs(docs, {"am": {"adjacency_matrix": {}}})


def test_filter_bucket_subaggs_and_meta(docs):
    """r7: bucket sub-aggs under filter recurse over the filtered
    scope; `meta` echoes verbatim at the top level and is
    accepted-and-ignored on sub-aggs (pure client metadata)."""
    out = run_aggs(docs, {"f": {
        "filter": {"range": {"n_chars": {"gte": 200}}},
        "meta": {"panel": 7},
        "aggs": {"langs": {
            "terms": {"field": "lang"},
            "meta": {"inner": True},
            "aggs": {"mx": {"max": {"field": "n_chars"},
                            "meta": {"deep": 1}}},
        }},
    }})
    env = out["f"]
    # n_chars >= 200: docs 2(en,300), 3(de,200), 4(de,400), 6(None,999)
    assert env["doc_count"] == 4
    assert env["meta"] == {"panel": 7}
    b = {x["key"]: x for x in env["langs"]["buckets"]}
    assert b["de"]["doc_count"] == 2
    assert b["de"]["mx"]["value"] == 400
    assert b["en"]["mx"]["value"] == 300
    # metric-only filter subs keep the one-job conditional path
    out = run_aggs(docs, {"f": {
        "filter": {"term": {"lang": "en"}},
        "aggs": {"mx": {"max": {"field": "n_chars"}}},
        "meta": "anything",
    }})
    assert out["f"] == {"doc_count": 3, "mx": {"value": 300},
                        "meta": "anything"}
    # meta alone is still not an agg type
    with pytest.raises(DslError, match="exactly one type"):
        run_aggs(docs, {"f": {"meta": {"x": 1}}})


def test_meta_key_order_does_not_change_routing(docs):
    """r8 (r7 ADVICE): ES JSON key order is client-controlled — a
    `meta` key listed BEFORE the agg type must not knock a metric off
    the shared-job fast path (it used to fall through to the bucket
    dispatcher and 400)."""
    out = run_aggs(docs, {"a": {"meta": {"ui": 1},
                                "avg": {"field": "n_chars"}}})
    assert out["a"]["value"] == pytest.approx(2049 / 6)
    assert out["a"]["meta"] == {"ui": 1}
    # same for the sub-agg partitions (top_hits / top_metrics /
    # parent pipelines detected under a terms parent)
    out = run_aggs(docs, {"langs": {
        "terms": {"field": "lang"},
        "aggs": {
            "tm": {"meta": {"x": 2}, "top_metrics": {
                "metrics": {"field": "n_chars"},
                "sort": {"n_chars": "desc"}}},
            "mx": {"meta": {"y": 3}, "max": {"field": "n_chars"}},
        },
    }})
    b = {x["key"]: x for x in out["langs"]["buckets"]}
    assert b["en"]["mx"]["value"] == 300
    assert b["en"]["tm"]["top"][0]["metrics"]["n_chars"] == 300
    # r9: the metric-order getter in nested chains dispatches via
    # _agg_kind too — meta listed before the type must not mis-route
    # the order target (it used to read kind 'meta' and 400)
    out = run_aggs(docs, {"langs": {
        "terms": {"field": "lang", "order": {"m": "desc"}},
        "aggs": {"m": {"meta": {"ui": 9},
                       "avg": {"field": "n_chars"}},
                 "inner": {"terms": {"field": "doc_id"}}},
    }})
    keys = [x["key"] for x in out["langs"]["buckets"]]
    avgs = [x["m"]["value"] for x in out["langs"]["buckets"]]
    assert avgs == sorted(avgs, reverse=True) and len(keys) >= 2


def test_terms_filter_subagg_one_job(docs):
    """r7: a filter sub-agg with metric children rides the parent
    terms groupBy as gated conditional aggregates — no per-bucket
    recursion, no extra job."""
    out = run_aggs(docs, {"langs": {
        "terms": {"field": "lang"},
        "aggs": {
            "short": {"filter": {"range": {"n_chars": {"lte": 200}}},
                      "aggs": {"mx": {"max": {"field": "n_chars"}}}},
            "avg_c": {"avg": {"field": "n_chars"}},
        },
    }})
    b = {x["key"]: x for x in out["langs"]["buckets"]}
    # en: docs 1(100), 2(300), 7(null) → short: doc1 only
    assert b["en"]["short"] == {"doc_count": 1, "mx": {"value": 100}}
    # de: 200, 400 → short: the 200 one
    assert b["de"]["short"] == {"doc_count": 1, "mx": {"value": 200}}
    assert b["fr"]["short"]["doc_count"] == 1
    # under histogram buckets too (same _metric_cols path)
    out = run_aggs(docs, {"sizes": {
        "histogram": {"field": "n_chars", "interval": 500},
        "aggs": {"en_only": {"filter": {"term": {"lang": "en"}}}},
    }})
    # bucket 0 holds en docs 1+2; bucket 500 holds only the null-lang
    # doc 6, so its gated count is 0
    assert [x["en_only"]["doc_count"]
            for x in out["sizes"]["buckets"]] == [2, 0]


def test_range_and_filters_bucket_subaggs(docs):
    """r7: bucket sub-trees under range bands and named filters
    recurse over each band/filter scope (one job set per band, ES's
    cost); other_bucket with bucket subs is a named error."""
    out = run_aggs(docs, {"bands": {
        "range": {"field": "n_chars",
                  "ranges": [{"to": 250}, {"from": 250}]},
        "aggs": {"langs": {"terms": {"field": "lang"}}},
    }})
    b = out["bands"]["buckets"]
    # < 250: 100(en), 200(de), 50(fr); >= 250: 300(en), 400(de),
    # 999(null lang — counts in the band, not in a lang bucket)
    assert b[0]["doc_count"] == 3 and b[1]["doc_count"] == 3
    assert {x["key"]: x["doc_count"]
            for x in b[0]["langs"]["buckets"]} == \
        {"en": 1, "de": 1, "fr": 1}
    assert {x["key"]: x["doc_count"]
            for x in b[1]["langs"]["buckets"]} == {"en": 1, "de": 1}
    out = run_aggs(docs, {"f": {
        "filters": {"filters": {"en": {"term": {"lang": "en"}}}},
        "aggs": {"days": {"date_histogram": {
            "field": "ts", "calendar_interval": "day"}}},
    }})
    env = out["f"]["buckets"]["en"]
    assert env["doc_count"] == 3
    assert [x["doc_count"] for x in env["days"]["buckets"]] == [3]
    with pytest.raises(DslError, match="other_bucket"):
        run_aggs(docs, {"f": {
            "filters": {"filters": {"en": {"term": {"lang": "en"}}},
                        "other_bucket": True},
            "aggs": {"t": {"terms": {"field": "lang"}}}}})


def test_subagg_key_order_does_not_change_dispatch(docs):
    """r9 (r8 ADVICE): the remaining first-key dispatch sites — terms
    ``order`` targets and the filter/filters gated-metric loops — now
    resolve the agg type via ``_agg_kind``, so an ``aggs`` block
    listed BEFORE the type can no longer mis-route the spec."""
    # terms frame: the error must name the resolved kind ('avg'),
    # not the literal first key ('aggs')
    with pytest.raises(DslError, match=r"'m' \(avg\)"):
        run_aggs(docs, {"l": {
            "terms": {"field": "lang", "order": {"m": "desc"}},
            "aggs": {"m": {"aggs": {"x": {"max": {"field": "n_chars"}}},
                           "avg": {"field": "n_chars"}}},
        }})
    # filter agg gated metrics: a stray aggs block next to a metric is
    # a named rejection (ES: metrics cannot accept sub-aggregations),
    # never a silent drop or an 'unsupported kind aggs' mis-route
    with pytest.raises(DslError, match=r"'m' \(avg\)"):
        run_aggs(docs, {"f": {
            "filter": {"term": {"lang": "en"}},
            "aggs": {"m": {"aggs": {"x": {"max": {"field": "n_chars"}}},
                           "avg": {"field": "n_chars"}}},
        }})
    # filters (plural) frame: same guard on its own metric loop
    with pytest.raises(DslError, match=r"'m' \(avg\)"):
        run_aggs(docs, {"f": {
            "filters": {"filters": {"en": {"term": {"lang": "en"}}}},
            "aggs": {"m": {"aggs": {"x": {"max": {"field": "n_chars"}}},
                           "avg": {"field": "n_chars"}}},
        }})
    # positive routing pin: order by a metric whose spec lists 'aggs'
    # last vs first must behave identically — here with meta riding
    # the spec, the type still resolves and the order applies
    out = run_aggs(docs, {"l": {
        "terms": {"field": "lang", "order": {"m": "asc"}},
        "aggs": {"m": {"meta": {"ui": 1}, "avg": {"field": "n_chars"}}},
    }})
    keys = [b["key"] for b in out["l"]["buckets"]]
    avgs = [b["m"]["value"] for b in out["l"]["buckets"]]
    assert avgs == sorted(avgs) and len(keys) == len(set(keys))


def test_string_stats(docs, spark):
    """r9: string_stats — length stats + char-distribution entropy;
    show_distribution; missing substitution; named 400 under buckets."""
    import math

    out = run_aggs(docs, {"s": {"string_stats": {"field": "lang"}}})
    env = out["s"]
    # 6 non-null langs, all length 2: en en de de fr en
    assert env["count"] == 6
    assert env["min_length"] == 2 and env["max_length"] == 2
    assert env["avg_length"] == 2.0
    # chars: e5 n3 d2 f1 r1 of 12 → entropy = -Σ p log2 p
    probs = [5 / 12, 3 / 12, 2 / 12, 1 / 12, 1 / 12]
    assert env["entropy"] == pytest.approx(
        -sum(p * math.log2(p) for p in probs))
    out = run_aggs(docs, {"s": {"string_stats": {
        "field": "lang", "show_distribution": True,
        "missing": "xx"}}})
    env = out["s"]
    assert env["count"] == 7  # missing substitutes the null lang
    dist = env["distribution"]
    assert sum(dist.values()) == pytest.approx(1.0)
    assert list(dist)[0] == "e"  # most probable first
    # meta echoes; sub-aggs and bucket nesting are named 400s
    out = run_aggs(docs, {"s": {"meta": {"ui": 1},
                                "string_stats": {"field": "lang"}}})
    assert out["s"]["meta"] == {"ui": 1}
    with pytest.raises(DslError, match="no sub-aggregations"):
        run_aggs(docs, {"s": {"string_stats": {"field": "lang"},
                              "aggs": {"x": {"avg": {"field": "n_chars"}}}}})
    with pytest.raises(DslError, match="unsupported sub-aggregation"):
        run_aggs(docs, {"t": {"terms": {"field": "lang"},
                              "aggs": {"s": {"string_stats": {
                                  "field": "lang"}}}}})
    with pytest.raises(DslError, match="requires a field"):
        run_aggs(docs, {"s": {"string_stats": {}}})
    # zero-char corpus: empty-string values keep the count
    empty = spark.createDataFrame([("",), ("",)], "v string")
    env = run_aggs(empty, {"s": {"string_stats": {
        "field": "v", "show_distribution": True}}})["s"]
    assert env["count"] == 2 and env["entropy"] == 0.0
    assert env["min_length"] == 0 and env["distribution"] == {}


def test_metric_script_source(docs):
    """r9: metric aggs over a painless-subset script (Kibana's "JSON
    input" idiom) — script OR field, compiled to one Column, shared
    job intact."""
    out = run_aggs(docs, {
        "a": {"avg": {"script": {
            "source": "doc['n_chars'].value * 2"}}},
        "s": {"sum": {"script": "doc['n_chars'].value % 100"}},
        "hi": {"sum": {"script":
                       "doc['n_chars'].value > 250 ? 1 : 0"}},
    })
    # n_chars: 100 300 200 400 50 999 null — null script results are
    # skipped like missing fields
    assert out["a"]["value"] == pytest.approx(2 * 2049 / 6)
    assert out["s"]["value"] == 0 + 0 + 0 + 0 + 50 + 99
    assert out["hi"]["value"] == 3
    # under a terms bucket the script rides the same gated/shared job
    out = run_aggs(docs, {"langs": {
        "terms": {"field": "lang"},
        "aggs": {"m": {"max": {"script":
                               "doc['n_chars'].value / 2"}}},
    }})
    b = {x["key"]: x for x in out["langs"]["buckets"]}
    assert b["en"]["m"]["value"] == 150.0
    assert b["de"]["m"]["value"] == 200.0
    with pytest.raises(DslError, match="field OR script"):
        run_aggs(docs, {"a": {"avg": {
            "field": "n_chars",
            "script": {"source": "doc['n_chars'].value"}}}})
    with pytest.raises(DslError, match="requires a field"):
        run_aggs(docs, {"a": {"missing": {"script": {
            "source": "doc['n_chars'].value"}}}})
    with pytest.raises(DslError, match="_score is not available"):
        run_aggs(docs, {"a": {"avg": {"script": {
            "source": "_score + 1"}}}})


def test_boxplot(docs, spark):
    """r9: boxplot — exact quantiles + Tukey IQR-fence whiskers."""
    out = run_aggs(docs, {"b": {"boxplot": {"field": "n_chars"}}})
    env = out["b"]
    # n_chars non-null: 50 100 200 300 400 999
    assert env["min"] == 50.0 and env["max"] == 999.0
    assert env["q1"] == 125.0 and env["q2"] == 250.0
    assert env["q3"] == 375.0
    # fences: [125-375, 375+375] = [-250, 750] → whiskers 50, 400
    assert env["lower"] == 50.0 and env["upper"] == 400.0
    # script source + meta echo
    out = run_aggs(docs, {"b": {"meta": {"ui": 1}, "boxplot": {
        "script": {"source": "doc['n_chars'].value * 2"}}}})
    assert out["b"]["q2"] == 500.0 and out["b"]["meta"] == {"ui": 1}
    # empty input → all-null shape, not an error
    empty = spark.createDataFrame([], "v double")
    env = run_aggs(empty, {"b": {"boxplot": {"field": "v"}}})["b"]
    assert env == {"min": None, "max": None, "q1": None, "q2": None,
                   "q3": None, "lower": None, "upper": None}
    # neither field nor script → named 400, not a KeyError-500
    # (r10 ADVICE fix: the direct boxplot_frame path validates too)
    with pytest.raises(DslError, match="requires a field or script"):
        run_aggs(docs, {"b": {"boxplot": {}}})
    with pytest.raises(DslError, match="no sub-aggregations"):
        run_aggs(docs, {"b": {"boxplot": {"field": "n_chars"},
                              "aggs": {"x": {"avg": {
                                  "field": "n_chars"}}}}})
    with pytest.raises(DslError, match="unsupported sub-aggregation"):
        run_aggs(docs, {"t": {"terms": {"field": "lang"},
                              "aggs": {"b": {"boxplot": {
                                  "field": "n_chars"}}}}})


def test_normalize_methods(docs):
    """r9: normalize — per-bucket rescale against the sibling list."""
    out = run_aggs(docs, {"days": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {
            "pct": {"normalize": {"buckets_path": "_count",
                                  "method": "percent_of_sum"}},
            "r01": {"normalize": {"buckets_path": "_count",
                                  "method": "rescale_0_1"}},
            "r100": {"normalize": {"buckets_path": "_count",
                                   "method": "rescale_0_100"}},
            "ctr": {"normalize": {"buckets_path": "_count",
                                  "method": "mean"}},
            "z": {"normalize": {"buckets_path": "_count",
                                "method": "z-score"}},
            "sm": {"normalize": {"buckets_path": "_count",
                                 "method": "softmax"}},
        },
    }})
    bs = out["days"]["buckets"]
    # day counts: 3, 2, 2
    assert [b["doc_count"] for b in bs] == [3, 2, 2]
    assert [b["pct"]["value"] for b in bs] == pytest.approx(
        [3 / 7, 2 / 7, 2 / 7])
    assert [b["r01"]["value"] for b in bs] == [1.0, 0.0, 0.0]
    assert [b["r100"]["value"] for b in bs] == [100.0, 0.0, 0.0]
    mean = 7 / 3
    assert [b["ctr"]["value"] for b in bs] == pytest.approx(
        [3 - mean, 2 - mean, 2 - mean])
    sd = (((3 - mean) ** 2 + 2 * (2 - mean) ** 2) / 3) ** 0.5
    assert [b["z"]["value"] for b in bs] == pytest.approx(
        [(3 - mean) / sd, (2 - mean) / sd, (2 - mean) / sd])
    import math
    es = math.exp(0) + 2 * math.exp(-1)
    assert [b["sm"]["value"] for b in bs] == pytest.approx(
        [1 / es, math.exp(-1) / es, math.exp(-1) / es])
    assert sum(b["sm"]["value"] for b in bs) == pytest.approx(1.0)


def test_normalize_terms_parent_and_metric_path(docs):
    out = run_aggs(docs, {"langs": {
        "terms": {"field": "lang"},
        "aggs": {
            "avg_chars": {"avg": {"field": "n_chars"}},
            "rel": {"normalize": {"buckets_path": "avg_chars",
                                  "method": "rescale_0_1"}},
        },
    }})
    bs = out["langs"]["buckets"]
    # avgs: en 200, de 300, fr 50 → rescaled (200-50)/250, 1, 0
    by = {b["key"]: b["rel"]["value"] for b in bs}
    assert by == pytest.approx({"en": 0.6, "de": 1.0, "fr": 0.0})


def test_normalize_degenerate_and_errors(docs, spark):
    # all-equal values: documented 0.0 instead of ES's undefined
    # division
    one = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, k string")
    out = run_aggs(one, {"t": {
        "terms": {"field": "k"},
        "aggs": {"r": {"normalize": {"buckets_path": "_count",
                                     "method": "rescale_0_1"}},
                 "z": {"normalize": {"buckets_path": "_count",
                                     "method": "z-score"}}},
    }})
    for b in out["t"]["buckets"]:
        assert b["r"]["value"] == 0.0 and b["z"]["value"] == 0.0
    with pytest.raises(DslError, match="unsupported normalize method"):
        run_aggs(docs, {"days": {
            "date_histogram": {"field": "ts",
                               "calendar_interval": "day"},
            "aggs": {"n": {"normalize": {"buckets_path": "_count",
                                         "method": "median"}}}}})
    with pytest.raises(DslError, match="unsupported normalize"):
        # `format` is a named 400, not silently dropped rendering
        run_aggs(docs, {"days": {
            "date_histogram": {"field": "ts",
                               "calendar_interval": "day"},
            "aggs": {"n": {"normalize": {
                "buckets_path": "_count", "method": "percent_of_sum",
                "format": "00.0%"}}}}})


def test_cumulative_cardinality(docs):
    """r9: exact running distinct via the first-occurrence histogram."""
    out = run_aggs(docs, {"days": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {
            "langs": {"cardinality": {"field": "lang"}},
            "cum": {"cumulative_cardinality": {"buckets_path": "langs"}},
        },
    }})
    bs = out["days"]["buckets"]
    # day1 {en}, day2 {de}, day3 {fr, null-skipped}
    assert [b["langs"]["value"] for b in bs] == [1, 1, 1]
    assert [b["cum"]["value"] for b in bs] == [1, 2, 3]


def test_cumulative_cardinality_errors(docs):
    with pytest.raises(DslError, match="sibling cardinality"):
        run_aggs(docs, {"days": {
            "date_histogram": {"field": "ts",
                               "calendar_interval": "day"},
            "aggs": {"cum": {"cumulative_cardinality": {
                "buckets_path": "nope"}}}}})
    with pytest.raises(DslError, match="script-sourced"):
        run_aggs(docs, {"days": {
            "date_histogram": {"field": "ts",
                               "calendar_interval": "day"},
            "aggs": {
                "c": {"cardinality": {"script": {
                    "source": "doc['n_chars'].value * 2"}}},
                "cum": {"cumulative_cardinality": {
                    "buckets_path": "c"}}}}})
    with pytest.raises(DslError, match="min_doc_count"):
        run_aggs(docs, {"days": {
            "date_histogram": {"field": "ts",
                               "calendar_interval": "day",
                               "min_doc_count": 2},
            "aggs": {
                "c": {"cardinality": {"field": "lang"}},
                "cum": {"cumulative_cardinality": {
                    "buckets_path": "c"}}}}})


def test_t_test_welch_and_pooled(docs, spark):
    """r9: t_test — one conditional-moment pass, p from (t, df)."""
    rows = [(1, "a", 10.0), (2, "a", 12.0), (3, "a", 11.0),
            (4, "b", 14.0), (5, "b", 16.0), (6, "b", 15.0),
            (7, "b", None), (8, None, 13.0)]
    df = spark.createDataFrame(rows, "id long, grp string, v double")
    body = {"a": {"field": "v", "filter": {"term": {"grp": "a"}}},
            "b": {"field": "v", "filter": {"term": {"grp": "b"}}}}
    from sql_database_to_elastic_datalake_spark.plans.es_aggs import (
        t_test_frame,
    )
    r = t_test_frame(df, body).collect()[0]
    assert (r["na"], r["nb"]) == (3, 3)
    assert r["mean_a"] == pytest.approx(11.0)
    assert r["mean_b"] == pytest.approx(15.0)
    assert r["var_a"] == pytest.approx(1.0)
    assert r["var_b"] == pytest.approx(1.0)
    # equal variances: Welch == pooled t = -4/sqrt(2/3), df = 4
    assert r["t_stat"] == pytest.approx(-4.0 / (2.0 / 3.0) ** 0.5)
    assert r["df_deg"] == pytest.approx(4.0)
    out = run_aggs(df, {"t": {"t_test": body}})
    # |t|=4.899, df=4 → two-sided p ≈ 0.00805 (hand-checked against
    # the df=4 closed form below)
    assert out["t"]["value"] == pytest.approx(0.00805, abs=2e-4)
    pooled = run_aggs(
        df, {"t": {"t_test": {**body, "type": "homoscedastic"}}})
    assert pooled["t"]["value"] == pytest.approx(
        out["t"]["value"], rel=1e-6)


def test_t_test_paired_and_p_closed_forms(spark):
    rows = [(1, 3.0, 1.0), (2, 5.0, 2.0), (3, 4.0, 2.0)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    out = run_aggs(df, {"t": {"t_test": {
        "a": {"field": "x"}, "b": {"field": "y"}, "type": "paired"}}})
    # diffs 2,3,2: mean 7/3, var 1/3, t = (7/3)/sqrt(1/9) = 7, df 2
    # df=2 closed form: p = 1 - t/sqrt(t^2+2)
    assert out["t"]["value"] == pytest.approx(
        1.0 - 7.0 / (49.0 + 2.0) ** 0.5, rel=1e-9)
    # df=1 (Cauchy) closed form through the incomplete beta
    import math
    from sql_database_to_elastic_datalake_spark.plans.es_aggs import (
        _reg_inc_beta,
    )
    for t in (0.5, 1.0, 12.7062):
        p = _reg_inc_beta(0.5, 0.5, 1.0 / (1.0 + t * t))
        assert p == pytest.approx(
            1.0 - 2.0 / math.pi * math.atan(t), rel=1e-9)


def test_t_test_errors(docs):
    with pytest.raises(DslError, match="unknown t_test type"):
        run_aggs(docs, {"t": {"t_test": {
            "a": {"field": "n_chars"}, "b": {"field": "doc_id"},
            "type": "welch"}}})
    with pytest.raises(DslError, match="a.field and b.field"):
        run_aggs(docs, {"t": {"t_test": {"a": {"field": "n_chars"}}}})
    with pytest.raises(DslError, match="paired t_test cannot"):
        run_aggs(docs, {"t": {"t_test": {
            "a": {"field": "n_chars",
                  "filter": {"term": {"lang": "en"}}},
            "b": {"field": "doc_id"}, "type": "paired"}}})
    with pytest.raises(DslError, match="no sub-aggregations"):
        run_aggs(docs, {"t": {
            "t_test": {"a": {"field": "n_chars"},
                       "b": {"field": "doc_id"}},
            "aggs": {"x": {"avg": {"field": "n_chars"}}}}})
    # under-2 samples per group: null value, not a crash
    out = run_aggs(docs.filter("doc_id = 1"), {"t": {"t_test": {
        "a": {"field": "n_chars"}, "b": {"field": "doc_id"}}}})
    assert out["t"]["value"] is None


def test_matrix_stats(spark):
    rows = [(1.0, 2.0, 1.0), (2.0, 4.0, 3.0), (3.0, 6.0, 2.0),
            (4.0, 8.0, 5.0), (None, 1.0, 1.0)]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    out = run_aggs(df, {"m": {"matrix_stats": {
        "fields": ["x", "y", "z"]}}})
    assert out["m"]["doc_count"] == 4  # listwise: null-x row dropped
    by = {f["name"]: f for f in out["m"]["fields"]}
    assert by["x"]["mean"] == pytest.approx(2.5)
    assert by["x"]["variance"] == pytest.approx(5.0 / 3.0)
    # y = 2x exactly: corr 1, cov = 2·var(x)
    assert by["x"]["correlation"]["y"] == pytest.approx(1.0)
    assert by["x"]["covariance"]["y"] == pytest.approx(10.0 / 3.0)
    assert by["y"]["correlation"]["x"] == pytest.approx(1.0)
    assert by["x"]["correlation"]["x"] == 1.0
    # symmetric z entries agree across field objects
    assert by["x"]["covariance"]["z"] == pytest.approx(
        by["z"]["covariance"]["x"])
    # x symmetric 1,2,3,4 → zero skewness; kurtosis plain (normal=3)
    assert by["x"]["skewness"] == pytest.approx(0.0, abs=1e-12)
    # m4 = 2.5625, m2 = 1.25 → kurtosis 2.5625 / 1.5625 = 1.64
    assert by["x"]["kurtosis"] == pytest.approx(1.64, abs=1e-9)
    # missing substitution pulls the dropped row back in
    out2 = run_aggs(df, {"m": {"matrix_stats": {
        "fields": ["x", "y"], "missing": {"x": 2.5}}}})
    assert out2["m"]["doc_count"] == 5


def test_matrix_stats_errors(docs):
    with pytest.raises(DslError, match="fields list"):
        run_aggs(docs, {"m": {"matrix_stats": {
            "fields": ["n_chars"]}}})
    with pytest.raises(DslError, match="distinct"):
        run_aggs(docs, {"m": {"matrix_stats": {
            "fields": ["n_chars", "n_chars"]}}})
    with pytest.raises(DslError, match="unsupported matrix_stats"):
        run_aggs(docs, {"m": {"matrix_stats": {
            "fields": ["n_chars", "doc_id"], "mode": "max"}}})
    with pytest.raises(DslError, match="no sub-aggregations"):
        run_aggs(docs, {"m": {
            "matrix_stats": {"fields": ["n_chars", "doc_id"]},
            "aggs": {"x": {"avg": {"field": "n_chars"}}}}})


def test_rate_agg_under_date_histogram(spark, docs):
    """r13 late: the rate agg — sum/value_count/doc_count rates per
    bucket, calendar-aware spans (leap Feb = 29 days), ES's
    under-date-histogram-only constraint, named 400s."""
    from sql_database_to_elastic_datalake_spark.plans.es_aggs import (
        run_aggs,
    )
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    df = spark.sql("""
        SELECT * FROM VALUES
          (1, TIMESTAMP '2024-01-05 00:00:00', CAST(10.0 AS DOUBLE)),
          (2, TIMESTAMP '2024-01-25 00:00:00', CAST(21.0 AS DOUBLE)),
          (3, TIMESTAMP '2024-02-10 00:00:00', CAST(29.0 AS DOUBLE)),
          (4, TIMESTAMP '2024-02-11 00:00:00', NULL)
        AS t(id, ts, v)
    """)
    out = run_aggs(df, {"m": {
        "date_histogram": {"field": "ts", "calendar_interval": "month"},
        "aggs": {
            "r_sum": {"rate": {"field": "v", "unit": "day"}},
            "r_cnt": {"rate": {"unit": "day"}},
            "r_vc": {"rate": {"field": "v", "unit": "day",
                              "mode": "value_count"}},
            "r_def": {"rate": {"field": "v"}},
            "plain": {"sum": {"field": "v"}},
        }}})
    b = out["m"]["buckets"]
    # jan: sum 31 over 31 days -> 1.0/day; 2 docs; feb (leap): sum 29
    # over 29 days -> 1.0/day; value_count 1 (null v excluded)
    assert abs(b[0]["r_sum"]["value"] - 1.0) < 1e-12
    assert abs(b[0]["r_cnt"]["value"] - 2.0 / 31.0) < 1e-12
    assert abs(b[1]["r_sum"]["value"] - 1.0) < 1e-12
    assert abs(b[1]["r_cnt"]["value"] - 2.0 / 29.0) < 1e-12
    assert abs(b[1]["r_vc"]["value"] - 1.0 / 29.0) < 1e-12
    # unit omitted: the bucket's own sum (ES default)
    assert abs(b[0]["r_def"]["value"] - 31.0) < 1e-12
    # ordinary metrics still ride the same frame
    assert abs(b[0]["plain"]["value"] - 31.0) < 1e-12
    # named 400s: rate at top level / under terms, calendar unit,
    # bad mode
    for bad, frag in [
        ({"r": {"rate": {"field": "v"}}}, "aggregation"),
        ({"t": {"terms": {"field": "id"},
                "aggs": {"r": {"rate": {"field": "v"}}}}}, "rate"),
        ({"m": {"date_histogram": {"field": "ts",
                                   "calendar_interval": "month"},
                "aggs": {"r": {"rate": {"field": "v",
                                        "unit": "month"}}}}},
         "rate unit"),
        ({"m": {"date_histogram": {"field": "ts",
                                   "calendar_interval": "month"},
                "aggs": {"r": {"rate": {"field": "v",
                                        "mode": "avg"}}}}},
         "rate mode"),
        ({"h": {"histogram": {"field": "id", "interval": 1},
                "aggs": {"r": {"rate": {"field": "v"}}}}},
         "date_histogram"),
    ]:
        with pytest.raises(DslError, match=frag):
            run_aggs(df, bad)


def test_rate_synthetic_component_never_shadows_user_agg(spark, docs):
    """r14 (ADVICE): the rate agg's internal sum/value_count component
    is stripped from the bucket envelope by its TRACKED name, not by
    the '__rate_' prefix — a user sub-agg literally named '__rate_r'
    survives, and the synthetic name uniquifies around it instead of
    overwriting it."""
    from sql_database_to_elastic_datalake_spark.plans.es_aggs import (
        run_aggs,
    )

    df = spark.sql("""
        SELECT * FROM VALUES
          (1, TIMESTAMP '2024-01-05 00:00:00', CAST(10.0 AS DOUBLE)),
          (2, TIMESTAMP '2024-01-25 00:00:00', CAST(21.0 AS DOUBLE))
        AS t(id, ts, v)
    """)
    out = run_aggs(df, {"m": {
        "date_histogram": {"field": "ts", "calendar_interval": "month"},
        "aggs": {
            "r": {"rate": {"field": "v", "unit": "day"}},
            "__rate_r": {"max": {"field": "v"}},
        }}})
    b = out["m"]["buckets"][0]
    assert abs(b["r"]["value"] - 1.0) < 1e-12       # 31 over 31 days
    assert b["__rate_r"]["value"] == 21.0           # user agg intact


def test_scripted_metric_deterministic_subset(spark, docs):
    """r14 (r13 verdict #4): scripted_metric — the deterministic
    init/map/combine/reduce subset compiles to ONE aggregate Column
    (merge declared by the map operator), rides top-level / terms /
    date_histogram envelopes, orders terms buckets, and names the
    shard- or order-dependent shapes as 400s."""
    from sql_database_to_elastic_datalake_spark.plans.es_aggs import (
        run_aggs,
    )
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    df = spark.sql("""
        SELECT * FROM VALUES
          ('a', 1.0), ('a', 3.0), ('b', 10.0),
          ('b', CAST(NULL AS DOUBLE))
        AS t(g, v)""")
    sm = {"scripted_metric": {
        "init_script": "state.s = 0; state.n = 0; state.mx = -1000",
        "map_script": ("state.s += doc['v'].value * params.f; "
                       "state.n += 1; "
                       "state.mx = Math.max(state.mx, "
                       "doc['v'].value)"),
        "combine_script": "return state",
        # states.mx accepted as an alias for the merged state
        "reduce_script": "return state.s / state.n + states.mx",
        "params": {"f": 2.0},
    }}
    # top level: s=(1+3+10)*2=28, n counts ALL docs (the expr doesn't
    # touch the null field)=4, mx=10 -> 28/4+10
    out = run_aggs(df, {"m": sm})
    assert out["m"] == {"value": 17.0}
    # under terms: per-bucket merge; ordering BY the scripted metric
    out = run_aggs(df, {"t": {
        "terms": {"field": "g", "order": {"m": "desc"}},
        "aggs": {"m": sm}}})
    got = [(b["key"], b["m"]["value"]) for b in out["t"]["buckets"]]
    assert got == [("b", 20.0), ("a", 7.0)]
    # shard-/order-dependent or out-of-subset shapes: named 400s
    base = {"init_script": "state.s = 0", "map_script": "state.s += 1",
            "combine_script": "return state",
            "reduce_script": "return state.s"}
    for patch, frag in [
        ({"map_script": "state.s = doc['v'].value"}, "re-assignment"),
        ({"init_script": "state.s = 5"}, "PER SHARD"),
        ({"map_script": "for (x in docs) state.s += 1"},
         "deterministic subset"),
        ({"combine_script": "return state.s"}, "combine_script"),
        ({"reduce_script": "return state.q"}, "never defined"),
        ({"reduce_script": "s = state.s; return s"}, "single"),
        ({"map_script": "state.s += 1; state.s += 2"}, "twice"),
        ({"init_script": "state.s = doc['v'].value"},
         "numeric literal"),
    ]:
        with pytest.raises(DslError, match=frag):
            run_aggs(df, {"m": {"scripted_metric": {**base, **patch}}})
    # an accumulator the map never touches merges as its init
    out = run_aggs(df, {"m": {"scripted_metric": {
        "init_script": "state.s = 0; state.k = 7",
        "map_script": "state.s += 1",
        "combine_script": "return state",
        "reduce_script": "return state.s * state.k"}}})
    assert out["m"] == {"value": 28.0}


def test_extended_stats_bucket_and_moving_percentiles(spark, docs):
    """r14 (r13 verdict #5): the pipeline-agg tail —
    extended_stats_bucket (sibling moment family) and
    moving_percentiles (exact percentiles over the sliding bucket
    window's raw values, ES's moving_fn window convention)."""
    from sql_database_to_elastic_datalake_spark.plans.es_aggs import (
        run_aggs,
    )
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    df = spark.sql("""SELECT ts, CAST(v AS DOUBLE) v FROM VALUES
      (TIMESTAMP '2024-01-01 01:00', 1.0),
      (TIMESTAMP '2024-01-01 02:00', 3.0),
      (TIMESTAMP '2024-01-02 01:00', 5.0),
      (TIMESTAMP '2024-01-03 01:00', 7.0),
      (TIMESTAMP '2024-01-04 01:00', 9.0)
      AS t(ts, v)""")
    out = run_aggs(df, {
        "d": {"date_histogram": {"field": "ts",
                                 "calendar_interval": "day"},
              "aggs": {"s": {"sum": {"field": "v"}}}},
        "es": {"extended_stats_bucket": {"buckets_path": "d>s",
                                         "sigma": 1}}})
    e = out["es"]
    # per-day sums: 4, 5, 7, 9 -> the same moment arithmetic the
    # extended_stats metric uses
    assert e["count"] == 4 and e["min"] == 4.0 and e["max"] == 9.0
    assert e["sum"] == 25.0 and e["sum_of_squares"] == 171.0
    assert abs(e["avg"] - 6.25) < 1e-12
    assert abs(e["variance"] - 3.6875) < 1e-12
    assert abs(e["std_deviation_bounds"]["upper"]
               - (6.25 + 3.6875 ** 0.5)) < 1e-12
    assert e["variance_sampling"] is not None
    # moving_percentiles: window = the PRIOR 2 buckets (shift 0)
    out = run_aggs(df, {"d": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {
            "pct": {"percentiles": {"field": "v", "percents": [50]}},
            "mp": {"moving_percentiles": {"buckets_path": "pct",
                                          "window": 2}},
        }}})
    got = [b.get("mp", {}).get("values", {}).get("50.0")
           for b in out["d"]["buckets"]]
    # bucket 0: empty window -> absent; 1: median(1,3)=2;
    # 2: median(1,3,5)=3; 3: median(5,7)=6
    assert got == [None, 2.0, 3.0, 6.0]
    for bad, frag in [
        ({"buckets_path": "nope", "window": 2}, "sibling"),
        ({"buckets_path": "pct"}, "positive integer window"),
        ({"buckets_path": "pct", "window": 2, "x": 1},
         "moving_percentiles aggregation options"),
    ]:
        with pytest.raises(DslError, match=frag):
            run_aggs(df, {"d": {
                "date_histogram": {"field": "ts",
                                   "calendar_interval": "day"},
                "aggs": {"pct": {"percentiles": {"field": "v"}},
                         "mp": {"moving_percentiles": bad}}}})


def test_ip_range_and_cidr_term(spark, docs):
    """r14 (r13 verdict #7): ip_range agg (from/to + CIDR-mask bands
    as numeric comparisons over the parsed long) and CIDR term
    membership; ipv6/malformed shapes are named 400s, non-ip values
    parse null and never match."""
    from sql_database_to_elastic_datalake_spark.functions.ip import (
        int_to_ipv4,
        ipv4_to_int,
        parse_cidr,
    )
    from sql_database_to_elastic_datalake_spark.plans.es_aggs import (
        run_aggs,
    )
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
        compile_dsl,
    )

    # driver-side arithmetic twins
    assert ipv4_to_int("10.0.0.1") == (10 << 24) + 1
    assert int_to_ipv4((10 << 24) + 513) == "10.0.2.1"
    assert parse_cidr("10.0.2.7/23") == (ipv4_to_int("10.0.2.0"),
                                         ipv4_to_int("10.0.4.0"))
    for bad in ("::1/64", "10.0.0.0/33", "10.0.0.256/8", "x/8"):
        with pytest.raises(ValueError):
            parse_cidr(bad)

    df = spark.createDataFrame(
        [("10.0.0.5",), ("10.0.1.5",), ("10.0.2.5",), ("10.0.3.200",),
         ("not-an-ip",), (None,)], "ip string")
    out = run_aggs(df, {"b": {"ip_range": {
        "field": "ip",
        "ranges": [
            {"to": "10.0.1.0"},
            {"from": "10.0.1.0", "to": "10.0.2.0"},
            {"mask": "10.0.2.0/23"},
        ]}}})
    b = out["b"]["buckets"]
    assert [x["doc_count"] for x in b] == [1, 1, 2]
    assert b[0] == {"key": "*-10.0.1.0", "to": "10.0.1.0",
                    "doc_count": 1}
    # mask band renders its computed from/to like ES
    assert b[2]["key"] == "10.0.2.0/23"
    assert b[2]["from"] == "10.0.2.0" and b[2]["to"] == "10.0.4.0"
    # keyed form
    out = run_aggs(df, {"b": {"ip_range": {
        "field": "ip", "keyed": True,
        "ranges": [{"mask": "10.0.0.0/22", "key": "block"}]}}})
    assert out["b"]["buckets"]["block"]["doc_count"] == 4
    # CIDR term: block membership; non-ip strings never match
    got = sorted(r["ip"] for r in df.filter(compile_dsl(
        {"term": {"ip": "10.0.2.0/23"}})).collect())
    assert got == ["10.0.2.5", "10.0.3.200"]
    # a slash value that is NOT a CIDR stays plain equality
    df2 = spark.createDataFrame([("a/b",), ("10.0.2.5",)],
                                "ip string")
    assert df2.filter(compile_dsl(
        {"term": {"ip": "a/b"}})).count() == 1
    # named 400s
    for bad_body, frag in [
        ({"field": "ip", "ranges": [{"mask": "::1/64"}]}, "ipv6"),
        ({"field": "ip", "ranges": [{"from": "10.0.0.999"}]},
         "malformed"),
        ({"field": "ip", "ranges": [
            {"mask": "10.0.0.0/8", "from": "10.0.0.0"}]},
         "mask OR"),
        ({"field": "ip", "ranges": [{"x": 1}]}, "entry keys"),
        ({"field": "ip", "ranges": []}, "non-empty"),
    ]:
        with pytest.raises(DslError, match=frag):
            run_aggs(df, {"b": {"ip_range": bad_body}})
    with pytest.raises(DslError, match="ipv6"):
        compile_dsl({"term": {"ip": "2001:db8::/32"}})


def _agg_jobs(spark, df, aggs, **kw) -> int:
    """Spark jobs launched by one ``run_aggs`` call, counted by running
    it under its own job group."""
    import uuid

    sc = spark.sparkContext
    group = f"aggjobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "run_aggs")
    try:
        run_aggs(df, aggs, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def shaped(spark):
    """30 docs with a keyword, a number, a timestamp and a geo point
    (the ``loc_lat``/``loc_lon`` pair encoding)."""
    rows = [(i, ["en", "de", "fr"][i % 3], i * 10,
             dt.datetime(2024, 1, 1 + i % 4, i % 24),
             48.0 + (i % 5), 2.0 + (i % 7))
            for i in range(30)]
    return spark.createDataFrame(
        rows, "id long, lang string, n long, ts timestamp, "
              "loc_lat double, loc_lon double")


def test_aggs_jobs_per_shape(spark, shaped):
    """Spark jobs per ``run_aggs`` call, one request shape per handler
    family — the docstrings' job-count contracts, pinned."""
    met = {"mx": {"max": {"field": "n"}}, "st": {"stats": {"field": "n"}}}
    shapes = [
        ({"a": {"avg": {"field": "n"}}, "s": {"stats": {"field": "n"}},
          "p": {"percentiles": {"field": "n", "percents": [50]}}}, {}, 2),
        ({"t": {"terms": {"field": "lang", "size": 2}, "aggs": {
            "mx": {"max": {"field": "n"}},
            "h": {"top_hits": {"size": 1, "sort": [{"n": "desc"}]}}}}},
         {}, 6),
        ({"h": {"date_histogram": {"field": "ts",
                                   "calendar_interval": "day"},
                "aggs": {"r": {"rate": {"field": "n", "unit": "hour"}},
                         "c": {"cardinality": {"field": "lang"}},
                         "cc": {"cumulative_cardinality": {
                             "buckets_path": "c"}}}}}, {}, 8),
        ({"t": {"terms": {"field": "lang"}, "aggs": {"h": {
            "date_histogram": {"field": "ts", "calendar_interval": "day"},
            "aggs": {"mx": {"max": {"field": "n"}}}}}}}, {}, 2),
        ({"r": {"range": {"field": "n", "ranges": [
            {"to": 100}, {"from": 100, "to": 200}, {"from": 150}]}}},
         {}, 2),
        ({"r": {"range": {"field": "n", "ranges": [
            {"to": 100}, {"from": 100}]}, "aggs": met}}, {}, 8),
        ({"f": {"filters": {"filters": {
            "en": {"term": {"lang": "en"}},
            "big": {"range": {"n": {"gte": 150}}}},
            "other_bucket": True}, "aggs": met}}, {}, 2),
        ({"f": {"filter": {"term": {"lang": "de"}}, "aggs": met}}, {}, 2),
        ({"g": {"geohash_grid": {"field": "loc", "precision": 3}}}, {}, 2),
        ({"s": {"sampler": {"shard_size": 12}, "aggs": {"sig": {
            "significant_terms": {"field": "lang", "min_doc_count": 1}}}}},
         {"background": shaped}, 14),
    ]
    got = [_agg_jobs(spark, shaped, aggs, **kw) for aggs, kw, _ in shapes]
    assert got == [want for _, _, want in shapes]


def _no_sub_kinds():
    from sql_database_to_elastic_datalake_spark.plans.es_aggs import _KINDS

    return sorted(k for k, e in _KINDS.items() if not e.subs)


@pytest.mark.parametrize("kind", _no_sub_kinds())
def test_kinds_without_sub_aggs_reject_them(spark, docs, kind):
    """Every kind the kind table marks as taking no sub-aggregations
    rejects them with one named 400 where the kind is valid — top
    level, under a terms or date_histogram bucket, under nested terms —
    instead of silently dropping them (ES rejects them too)."""
    from sql_database_to_elastic_datalake_spark.plans.es_aggs import _KINDS

    df = docs
    aggs = {"a": {kind: {}, "aggs": {"x": {"max": {"field": "n_chars"}}}}}
    if kind in ("rate", "cumulative_cardinality", "moving_percentiles"):
        aggs = {"h": {"date_histogram": {"field": "ts",
                                         "calendar_interval": "day"},
                      "aggs": aggs}}
    elif kind == "reverse_nested":
        df = spark.createDataFrame(
            [(1, [("x",)])], "id long, labels array<struct<name:string>>")
        aggs = {"n": {"nested": {"path": "labels"}, "aggs": {"t": {
            "terms": {"field": "labels.name"}, "aggs": aggs}}}}
    elif _KINDS[kind].handler is None:
        aggs = {"t": {"terms": {"field": "lang"}, "aggs": aggs}}
    with pytest.raises(DslError,
                       match=rf"'a' \({kind}\) takes no sub-aggregations"):
        run_aggs(df, aggs)


def test_silently_dropped_sub_aggs_now_400(docs):
    """median_absolute_deviation and top_metrics (also as a terms
    sub-agg) reject sub-aggregations rather than answer without them."""
    x = {"x": {"max": {"field": "n_chars"}}}
    top = {"top_metrics": {"metrics": {"field": "n_chars"},
                           "sort": {"doc_id": "desc"}}, "aggs": x}
    for aggs in [
        {"m": {"median_absolute_deviation": {"field": "n_chars"},
               "aggs": x}},
        {"m": top},
        {"t": {"terms": {"field": "lang"}, "aggs": {"m": top}}},
    ]:
        with pytest.raises(DslError, match="takes no sub-aggregations"):
            run_aggs(docs, aggs)


@pytest.mark.parametrize("aggs, frag", [
    ({"r": {"range": {"field": "n_chars", "ranges": [5]}}},
     "malformed range entry"),
    ({"r": {"range": {"field": "n_chars", "ranges": [5]},
            "aggs": {"m": {"max": {"field": "n_chars"}}}}},
     "malformed range entry"),
    ({"r": {"range": {"ranges": [{"to": 100}]},
            "aggs": {"m": {"max": {"field": "n_chars"}}}}},
     "requires field"),
    ({"r": {"date_range": {"field": "ts", "ranges": ["x"]}}},
     "malformed date_range entry"),
    ({"t": {"terms": {"field": "lang", "size": "x"}}}, "terms size"),
    ({"t": {"terms": {"field": "lang", "size": -1}}}, "terms size"),
    ({"c": {"composite": {"sources": [{"l": {"terms": {"field": "lang"}}}],
                          "size": "x"}}}, "composite size"),
])
def test_malformed_agg_bodies_are_named_400s(docs, aggs, frag):
    """Malformed range entries and sizes are named 400s, not a
    TypeError / ValueError / Spark INVALID_LIMIT 500."""
    with pytest.raises(DslError, match=frag):
        run_aggs(docs, aggs)


def test_gated_metrics_match_top_level_over_filtered_scope(docs):
    """filter and filters accept the same metric kinds a bucket sub
    does; each gated value equals the same metric run at top level over
    ``df.filter(pred)``."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        compile_dsl,
    )

    metrics = {
        "es": {"extended_stats": {"field": "n_chars"}},
        "pc": {"percentiles": {"field": "n_chars", "percents": [25, 50]}},
        "pr": {"percentile_ranks": {"field": "n_chars",
                                    "values": [200, 300]}},
        "wa": {"weighted_avg": {"value": {"field": "n_chars"},
                                "weight": {"field": "doc_id"}}},
        "mi": {"missing": {"field": "n_chars"}},
        "st": {"stats": {"field": "n_chars"}},
        "sc": {"avg": {"script": "doc['n_chars'].value * 2"}},
    }
    queries = {"en": {"term": {"lang": "en"}},
               "big": {"range": {"n_chars": {"gte": 200}}}}
    out = run_aggs(docs, {
        "f": {"filter": queries["en"], "aggs": metrics},
        "fs": {"filters": {"filters": queries}, "aggs": metrics},
    })
    for env, q in [(out["f"], queries["en"]),
                   (out["fs"]["buckets"]["en"], queries["en"]),
                   (out["fs"]["buckets"]["big"], queries["big"])]:
        scope = docs.filter(compile_dsl(q))
        assert env.pop("doc_count") == scope.count()
        assert env == run_aggs(scope, metrics)
    assert out["f"]["es"]["count"] == 2  # en: 100, 300 (+ one null)
    assert out["f"]["mi"] == {"doc_count": 1}
    # scripted_metric's map script sees every row: it cannot be gated
    sm = {"scripted_metric": {
        "init_script": "state.s = 0", "map_script": "state.s += 1",
        "combine_script": "return state", "reduce_script": "return state.s"}}
    for parent in ({"filter": queries["en"]},
                   {"filters": {"filters": queries}}):
        with pytest.raises(DslError, match="scripted_metric"):
            run_aggs(docs, {"f": {**parent, "aggs": {"s": sm}}})
