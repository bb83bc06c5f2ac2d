"""Degenerate-input robustness: text operators vs their DuckDB oracles on an
adversarial documents table.

The driver's correctness gate runs on generated testdata whose documents are
well-formed prose; none of it exercises the corpus a real 100 TB crawl
serves up — empty strings, whitespace-only docs, NULL text, unicode
whitespace, single-char docs. Each query here must either agree with its
registered oracle on those rows or fail loudly on both engines; a
Spark-only crash (e.g. ANSI DIVIDE_BY_ZERO on an empty doc, the bug this
suite caught first) is a pipeline-killer at scale where such rows are
guaranteed to exist.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cloud_data_sync_spark.registry import all_queries
from cloud_data_sync_spark.tables import TABLE_NAMES, table_path

SF_SRC = "/root/testdata/sf0.001"

ADVERSARIAL_DOCS = [
    (1, "", "en", "webcrawl", 0),          # empty
    (2, "   ", "en", "webcrawl", 3),       # spaces only
    (3, "\t\n\r ", "en", "books", 4),      # mixed whitespace only
    (4, "a b nbsp inside", "en", "books", 17),
    (5, "normal words here repeated words here", "en", "wiki", 37),
    (6, None, "en", "wiki", 0),             # NULL text
    (7, "ONE", "de", "code", 3),            # single upper-case token
    (8, "tab\tsep\nnewline  double  space", "fr", "code", 30),
    (9, "ünïcödé tökens straße STRASSE", "de", "webcrawl", 29),
    (10, ".", "en", "wiki", 1),             # punctuation-only
]

# Representative per-family subset (keeps the suite's wall bounded; the
# /tmp probe that found the try_divide bug ran the full text family —
# promote more keys here if a future round touches their token paths).
KEYS = [
    "q_text_stats",        # aggregate over n_tokens incl. NULL-text rows
    "q_text_quality",      # the DIVIDE_BY_ZERO regression this caught
    "q_doc_fingerprint",   # md5 of '' and of NULL
    "q_text_repetition",   # bigram guards on <2-token docs
    "q_dedup_tokenset",    # order-insensitive hash over degenerate docs
    "q_token_budget",      # per-(source,lang) sums with NULL sizes
    "q_udtf_surface",      # UDTF tokenizer contract on empty/whitespace
    "q_pii_scrub",         # regex pipeline over NULL/unicode
    "q_udf_surface",       # pandas UDF NULL-in -> NULL-out (not 0)
    "q_stratified_sample", # digit-less source -> base weight, not a cast kill
    "q_multimodal_features",  # NULL payload + non-ASCII head checksum
    "q_multimodal_frames",    # NULL payload + codepoint frame windows
    "q_dedup_minhash",        # signature pipeline over NULL/empty/1-token docs
    "q_dedup_cross_source",   # source attachment when the pair set is degenerate
    "q_dedup_survivors",      # NULL-text length coalesce in survivor pick
    "q_cluster_size_dist",    # histogram over a near-empty duplicate graph
    "q_split_leakage",        # md5-nibble sides on a degenerate pair set
    "q_dedup_sentence_scrub",  # NULL-text totals stay NULL, never throw
    "q_dedup_span_scrub",      # EMPTY doc: 0-length total -> NULL frac
    #   (try_divide; plain '/' is a job-killing ANSI DIVIDE_BY_ZERO)
    "q_dedup_substring_spans",  # empty-string chunks share md5('') runs
    "q_dedup_suffix_groups",   # NULL/empty docs dropped up front on both
    #   engines (the '' tail window is a degenerate suffix group);
    #   whitespace-only and single-char docs form real content groups
    #   whose extents clamp at doc end
    "q_split_assign",          # cluster-aware sides on a degenerate graph
    "q_dedup_band_sweep",      # bounded pair sample may be tiny/empty ->
    #   try_divide recall; every layout predicate over degenerate sigs
    "q_stream_minhash_dedup",  # streaming bucket-state probe over
    #   NULL/empty/1-token docs (dropped pre-banding on both engines)
    "q_mutual_info",           # NULL lang/source/n_chars become NULL-keyed
    #   contingency cells on both engines, never a cast kill
    "q_corpus_dsir",           # NULL text drops from the token stream on
    #   both engines; empty docs contribute one ''-token; NULL lang
    #   groups ride the raw side only
    "q_phash_neardup",         # empty/NULL text dropped up front on both
    #   engines (all-zero band class would degenerate the band join to
    #   O(n^2)); unicode byte/char offsets exercised by the
    #   one-byte-overwrite jitter twins
    "q_dup_inflation",         # NULL text hashes as md5(NULL)->NULL group
    #   on both engines; empty docs carry their ''-token counts through
    "q_text_readability",      # NULL/empty docs excluded; clamped
    #   sentence/syllable floors keep division safe on both engines
    "q_heaps_law",             # degenerate docs add no trigrams on either
    #   engine; the fit runs on whatever checkpoints survive
    "q_langid_chargram",       # NULL/empty/1-char docs excluded by the
    #   same predicate on both engines; tiny profiles from degenerate
    #   train splits keep the argmax deterministic
    # -- r9 full-coverage sweep: EVERY remaining documents-reading oracle
    #    key, enrolled after a one-shot probe of all 52 against this
    #    corpus. The probe caught two real defects before enrollment:
    #    q_weighted_sample died on ANSI ln(u)/0 for zero-char docs (now
    #    try_divide; DuckDB's double /0 is NULL natively so NULL keys
    #    sort last identically), and q_feature_hash rendered NULL-toks
    #    docs as '' on Spark (array_join skips null elements) vs NULL on
    #    DuckDB (now both coalesce to an explicit zero vector).
    "q_approx_topk",
    "q_bm25",
    "q_bpe_encode",
    "q_bpe_train",
    "q_corpus_curation",
    "q_curation_funnel",
    "q_data_mixture",
    "q_decontaminate",
    "q_dedup_clusters",
    "q_dedup_containment",
    "q_dedup_exact",
    "q_dedup_incremental",
    "q_dedup_lsh_recall",
    "q_dedup_minhash_calibration",
    "q_dedup_minhash_incremental",
    "q_dedup_minhash_sweep",
    "q_dedup_ngram_jaccard",
    "q_dedup_prefix_filter",
    "q_dedup_sentence",
    "q_dedup_simhash",
    "q_dedup_substring",
    "q_dedup_winnow",
    "q_doc_chunk",
    "q_doc_pack",
    "q_feature_hash",
    "q_group_top_p",
    "q_hll_pair_overlap",
    "q_inverted_index",
    "q_lang_confusion",
    "q_lang_id",
    "q_mixture_sample",
    "q_mixture_temperature",
    "q_multimodal_dedup",
    "q_multimodal_meta",
    "q_multimodal_phash",
    "q_neyman_alloc",
    "q_ngram_dup_mass",
    "q_ngram_lm",
    "q_perplexity_buckets",
    "q_sample_hash",
    "q_shard_layout",
    "q_sketch_cms",
    "q_source_overlap",
    "q_term_pmi",
    "q_text_entropy",
    "q_text_term_freq",
    "q_tfidf",
    "q_token_bpe",
    "q_vocab",
    "q_vocab_coverage",
    "q_weighted_sample",
    "q_zipf_fit",
]


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("adv_sf"))
    for name in TABLE_NAMES:
        if name == "documents":
            continue
        shutil.copyfile(table_path(SF_SRC, name), table_path(d, name))
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in ADVERSARIAL_DOCS], pa.int64()),
            "text": pa.array([r[1] for r in ADVERSARIAL_DOCS], pa.string()),
            "lang": pa.array([r[2] for r in ADVERSARIAL_DOCS], pa.string()),
            "source": pa.array([r[3] for r in ADVERSARIAL_DOCS], pa.string()),
            "n_chars": pa.array([r[4] for r in ADVERSARIAL_DOCS], pa.int64()),
        }
    )
    pq.write_table(tbl, table_path(d, "documents"))
    return d


@pytest.fixture(scope="module")
def adv_duck(adv_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(adv_dir, t)}')"
        )
    yield con
    con.close()


def _norm(rows, cols):
    out = []
    for r in rows:
        d = dict(zip(cols, r))
        out.append(tuple(repr(d[c]) for c in sorted(cols)))
    return sorted(out)


@pytest.mark.parametrize("key", KEYS)
def test_matches_oracle_on_adversarial_docs(spark, adv_dir, adv_duck, key):
    spec = all_queries()[key]
    sdf = spec.fn(spark, adv_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = list(sdf.columns)
    orel = adv_duck.execute(spec.oracle)
    ocols = [d[0] for d in orel.description]
    orows = orel.fetchall()
    assert sorted(scols) == sorted(ocols)
    assert _norm(srows, scols) == _norm(orows, ocols)


# -- adversarial embeddings + events -----------------------------------------
#
# Degenerate vectors (zero-norm -> 0/0 cosine, NULL embedding -> np.stack
# crash / engine-specific NULL ranks) and degenerate events (corrupt
# durations that overflow the µs long, malformed JSON props, NULL
# user/value, tied timestamps). Caught live: DIVIDE_BY_ZERO in the whole
# similarity family, a pandas-UDF crash in the embedding pair pipeline,
# NaN-passes-threshold semantics (Spark orders NaN above every double!),
# a kmeans NULL-assignment divergence, ARITHMETIC_OVERFLOW in
# gaps-islands, and a floor()-returns-LONG clamp divergence in the
# random projection. Vector dim must match the corpus DIM (64): the LSH
# plane weights are compiled for it.

_DIM = 64

ADVERSARIAL_VECS = [
    (0, [0.0] * _DIM, 0),                        # zero vector (query side: %100==0)
    (1, [1.0] + [0.0] * (_DIM - 1), 0),
    (2, [0.5] * _DIM, 1),
    (3, None, 1),                                 # NULL embedding
    (100, [0.1 * (i % 7) for i in range(_DIM)], 2),
    (200, [0.0] * _DIM, 2),                       # zero vector in a query slot
    (5, [1e30] * _DIM, 3),                        # huge magnitudes
    (6, [1e-30] * _DIM, 3),                       # tiny magnitudes
    (7, [-1.0] * _DIM, 4),
    (8, [1.0] * _DIM, 4),
    (9, [0.5] * 31 + [None] + [0.5] * 32, 1),    # NULL element
    (10, [0.5] * 31 + [float("nan")] + [0.5] * 32, 1),  # NaN element
]

_T0 = __import__("datetime").datetime(2025, 1, 1)


def _ts(s):
    import datetime

    return _T0 + datetime.timedelta(seconds=s)


ADVERSARIAL_EVENTS = [
    (1, _ts(0), 10, "view", 1.0, '{"k":1}'),
    (2, _ts(0), 10, "view", 1.0, '{"k":1}'),        # exact duplicate
    (3, _ts(0), 10, "click", 2.0, None),             # NULL props, tied ts
    (4, _ts(5), None, "view", None, '{"k":2}'),      # NULL user + value
    (5, _ts(10), 11, "purchase", 0.0, "not-json"),   # malformed props
    (6, _ts(10), 11, "purchase", -5.0, "{}"),
    (7, _ts(3600), 11, "view", 1e12, "{}"),          # duration overflows long µs
    (8, _ts(3599), 12, "", 0.0, "{}"),               # empty event_type
    (9, _ts(20), 12, None, 3.0, "{}"),               # NULL event_type
]

VEC_EVENT_KEYS = [
    "q_sim_topk", "q_sim_ann_lsh", "q_sim_ivf", "q_sim_knn_graph",
    "q_dedup_embedding", "q_semdedup", "q_kmeans", "q_random_projection",
    "q_gaps_islands", "q_json_props", "q_anomaly_mad", "q_funnel",
    "q_ewma_smooth",   # all-NULL lag window -> NULL EWMA, not 0/0
    "q_gaussian_nb",   # NULL embeddings join neither split
    "q_logreg_probe",  # saturated sigmoid -> clamped cross-entropy
    "q_stream_running_totals",  # all-NULL key sums NULL (SQL), not 0.0
    "q_stream_per_type_totals",  # NULL event_type groups via the sentinel
    "q_sim_pq",         # NULL/zero-norm embeddings excluded before coding
    "q_sim_pq_recall",  # audit join over the degenerate result sets
    "q_sim_ivf_sweep",  # layout write + sweep over a degenerate index
    "q_sim_index_stats",  # cell stats when most vectors are excluded
    "q_logreg_auc",     # tie-heavy margins; 1-row fold on tiny classes
    "q_user_stickiness",  # NULL user/ts rows excluded identically
    "q_theil_sen",      # NULL values vanish from the daily sum the same
    #   way on both engines; single-day types yield no pairs
    "q_anomaly_seasonal",  # NULL value/ts filtered; zero-variance hours
    #   flag nothing (sd > 0 guard) instead of dividing by zero
    "q_hdr_percentiles",  # value <= 0 and NULL filtered identically;
    #   huge/tiny magnitudes land in extreme log2 buckets, not overflow
    "q_sim_range",      # NULL/zero-norm embeddings excluded by the
    #   shared _vectors substrate on both engines
    "q_survival_km",    # NULL user/ts filtered pre-agg; tied lifetimes
    #   collapse to one KM step; absorbing-zero flag when d == n_risk
    "q_dp_sensitivity",  # NULL event_type audited via null-safe join;
    #   NULL users filtered; DECIMAL sums absorb corrupt magnitudes
    "q_view_maintenance",  # NULL event_type groups merge via null-safe
    #   full outer join keys; NULL values sum to NULL on both engines
    "q_attribution_linear",  # NULL user/value purchases excluded on both
    #   engines; corrupt timestamps ride the exact integer-cents path
    "q_funnel_steps",   # NULL users excluded; stages chained on strict
    #   epoch-us inequalities survive tied timestamps identically
    # -- r9 full-coverage sweep: EVERY remaining embeddings/events-reading
    #    oracle key, enrolled after a one-shot probe of all 53 against
    #    this corpus. The probe caught ELEVEN real defects first — seven
    #    ANSI job-killers (q_ab_cuped empty-arm + zero-variance theta,
    #    q_funnel_time zero-entry conv_rate, q_ks_drift one-sided split,
    #    q_metric_corr zero-variance series, q_ols_regression singular
    #    normal matrix, q_seasonality_strength zero total variance — all
    #    now try_divide; q_decay_leaderboard BIGINT overflow from a 1e12
    #    value in the exact-micro path — now a |value| <= 1e9 validity
    #    bound) and four divergences (q_ab_welch oracle said 0 where an
    #    undefined test must say NULL; q_power_analysis var_samp ulp at
    #    corrupt magnitudes — same validity bound; q_embedding_drift
    #    Spark floor()->LONG clamp at 1e30 means — the 2^53 gate;
    #    q_sketch_rollup equi-join dropping the NULL-event_type group —
    #    null-safe keys). q_decay_leaderboard's oracle also needed
    #    json_valid() (DuckDB json_extract ERRORS on malformed props
    #    where Spark's get_json_object is NULL).
    "q_ab_cuped",
    "q_ab_welch",
    "q_acf",
    "q_anomaly_zscore",
    "q_array_map_funcs",
    "q_attribution",
    "q_cohort_ltv",
    "q_cusum_changepoint",
    "q_decay_leaderboard",
    "q_embedding_compactness",
    "q_embedding_drift",
    "q_event_paths",
    "q_event_transitions",
    "q_funnel_time",
    "q_join_asof",
    "q_join_asof_tolerance",
    "q_join_range",
    "q_join_skew_salted",
    "q_ks_drift",
    "q_late_events",
    "q_logreg_calibration",
    "q_map_funcs",
    "q_markov_stationary",
    "q_metric_corr",
    "q_ols_regression",
    "q_power_analysis",
    "q_psi_drift",
    "q_resample_gapfill",
    "q_retention",
    "q_scd2",
    "q_seasonal_forecast",
    "q_seasonality_strength",
    "q_semdedup_sweep",
    "q_session_lag_gap",
    "q_session_window_batch",
    "q_sim_ivf_pq",
    "q_sim_ivf_pq_recall",
    "q_sim_ivf_recall",
    "q_sketch_rollup",
    "q_srm_check",
    "q_stream_dedup_keys",
    "q_stream_enrich",
    "q_stream_join",
    "q_stream_left_join",
    "q_stream_asof_join",
    "q_stream_asof_tolerance",
    "q_stream_session_native",
    "q_stream_sliding",
    "q_stream_stateful_dedup",
    "q_stream_tumbling",
    "q_stream_upsert",
    "q_temporal_join",
    "q_vector_quantize",
    "q_vector_stats",
    "q_winsorize",
]


@pytest.fixture(scope="module")
def adv_vec_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("adv_vec_sf"))
    for name in TABLE_NAMES:
        if name in ("embeddings", "events"):
            continue
        shutil.copyfile(table_path(SF_SRC, name), table_path(d, name))
    emb = pa.table(
        {
            "vec_id": pa.array([r[0] for r in ADVERSARIAL_VECS], pa.int64()),
            "embedding": pa.array(
                [r[1] for r in ADVERSARIAL_VECS], pa.list_(pa.float32())
            ),
            "label": pa.array([r[2] for r in ADVERSARIAL_VECS], pa.int32()),
        }
    )
    pq.write_table(emb, table_path(d, "embeddings"))
    ev = pa.table(
        {
            "event_id": pa.array([r[0] for r in ADVERSARIAL_EVENTS], pa.int64()),
            "ts": pa.array([r[1] for r in ADVERSARIAL_EVENTS], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in ADVERSARIAL_EVENTS], pa.int64()),
            "event_type": pa.array([r[3] for r in ADVERSARIAL_EVENTS], pa.string()),
            "value": pa.array([r[4] for r in ADVERSARIAL_EVENTS], pa.float64()),
            "props": pa.array([r[5] for r in ADVERSARIAL_EVENTS], pa.string()),
        }
    )
    pq.write_table(ev, table_path(d, "events"))
    return d


@pytest.fixture(scope="module")
def adv_vec_duck(adv_vec_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{table_path(adv_vec_dir, t)}')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("key", VEC_EVENT_KEYS)
def test_matches_oracle_on_adversarial_vectors_events(
    spark, adv_vec_dir, adv_vec_duck, key
):
    spec = all_queries()[key]
    sdf = spec.fn(spark, adv_vec_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = list(sdf.columns)
    orel = adv_vec_duck.execute(spec.oracle)
    ocols = [d[0] for d in orel.description]
    orows = orel.fetchall()
    assert sorted(scols) == sorted(ocols)
    assert _norm(srows, scols) == _norm(orows, ocols)


# -- adversarial FACT tables (r10) --------------------------------------------
#
# The documents/embeddings/events corpora above never exercised the TPC-H
# readers: the corrupt-value probe class that caught q_decay_leaderboard's
# BIGINT overflow had no fact-table twin (r9 verdict gap). This vintage
# mutates lineitem/orders/customer with the failure classes a 100 TB
# ingest actually serves: corrupt magnitudes (±1e12 prices/balances),
# NULL join keys (including a NULL primary key), NULL dates, NULL
# group-by dimensions, out-of-domain rates, and exact duplicate rows.
# Enrollment is DYNAMIC: every oracle-bearing key whose SQL references a
# TPC-H table runs here, so new fact readers auto-enroll.

_FACT_TABLES = ("lineitem", "orders", "customer", "supplier", "part",
                "nation", "region")


def _fact_keys():
    import re

    pat = re.compile(r"\b(" + "|".join(_FACT_TABLES) + r")\b")
    return sorted(
        k
        for k, s in all_queries().items()
        if s.oracle and pat.search(s.oracle)
    )


FACT_KEYS = _fact_keys()


def _mutate(tbl: pa.Table, edits: dict[int, dict[str, object]]) -> pa.Table:
    cols = {name: tbl.column(name).to_pylist() for name in tbl.schema.names}
    for i, kv in edits.items():
        for c, v in kv.items():
            cols[c][i] = v
    return pa.table(
        {n: pa.array(cols[n], tbl.schema.field(n).type)
         for n in tbl.schema.names}
    )


@pytest.fixture(scope="module")
def adv_fact_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("adv_fact_sf"))
    mutated = ("lineitem", "orders", "customer",
               "supplier", "part", "nation", "region")
    for name in TABLE_NAMES:
        if name in mutated:
            continue
        shutil.copyfile(table_path(SF_SRC, name), table_path(d, name))

    su = pq.read_table(table_path(SF_SRC, "supplier"))
    su = _mutate(su, {
        0: {"s_acctbal": 1.0e12},
        1: {"s_nationkey": None},                 # NULL join key
        2: {"s_name": None},
    })
    pq.write_table(su, table_path(d, "supplier"))

    pt = pq.read_table(table_path(SF_SRC, "part"))
    pt = _mutate(pt, {
        0: {"p_retailprice": 1.0e12},
        1: {"p_retailprice": -1.0e12},
        2: {"p_partkey": None},                   # NULL primary key
        3: {"p_brand": None},
        4: {"p_type": None},
        5: {"p_size": None},
    })
    pq.write_table(pt, table_path(d, "part"))

    na = pq.read_table(table_path(SF_SRC, "nation"))
    na = _mutate(na, {
        0: {"n_name": None},
        1: {"n_regionkey": None},                 # NULL join key
    })
    pq.write_table(na, table_path(d, "nation"))

    rg = pq.read_table(table_path(SF_SRC, "region"))
    rg = _mutate(rg, {0: {"r_name": None}})
    pq.write_table(rg, table_path(d, "region"))

    li = pq.read_table(table_path(SF_SRC, "lineitem"))
    dup = {c: li.column(c).to_pylist()[8] for c in li.schema.names}
    li = _mutate(li, {
        0: {"l_extendedprice": 1.0e12},          # corrupt magnitude +
        1: {"l_extendedprice": -1.0e12},         # corrupt magnitude -
        2: {"l_orderkey": None},                  # NULL join key
        3: {"l_partkey": None, "l_suppkey": None},
        4: {"l_shipdate": None},                  # NULL date
        5: {"l_quantity": None, "l_discount": None, "l_tax": None},
        6: {"l_returnflag": None, "l_linestatus": None},
        7: dup,                                   # exact duplicate of row 8
        9: {"l_discount": 1.5, "l_tax": -0.2},    # out-of-domain rates
    })
    pq.write_table(li, table_path(d, "lineitem"))

    od = pq.read_table(table_path(SF_SRC, "orders"))
    odup = {c: od.column(c).to_pylist()[7] for c in od.schema.names}
    od = _mutate(od, {
        0: {"o_totalprice": 1.0e12},
        1: {"o_totalprice": -1.0e12},
        2: {"o_custkey": None},                   # NULL join key
        3: {"o_orderdate": None},                 # NULL date
        4: {"o_orderstatus": None},               # NULL group-by dim
        5: {"o_orderpriority": None},
        6: odup,                                  # exact duplicate of row 7
    })
    pq.write_table(od, table_path(d, "orders"))

    cu = pq.read_table(table_path(SF_SRC, "customer"))
    cu = _mutate(cu, {
        0: {"c_acctbal": 1.0e12},
        1: {"c_acctbal": -1.0e12},
        2: {"c_nationkey": None},                 # NULL join key
        3: {"c_mktsegment": None},                # NULL group-by dim
        4: {"c_name": None},
        5: {"c_custkey": None},                   # NULL primary key
    })
    pq.write_table(cu, table_path(d, "customer"))
    return d


@pytest.fixture(scope="module")
def adv_fact_duck(adv_fact_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{table_path(adv_fact_dir, t)}')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("key", FACT_KEYS)
def test_matches_oracle_on_adversarial_fact_tables(
    spark, adv_fact_dir, adv_fact_duck, key
):
    spec = all_queries()[key]
    sdf = spec.fn(spark, adv_fact_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = list(sdf.columns)
    orel = adv_fact_duck.execute(spec.oracle)
    ocols = [d[0] for d in orel.description]
    orows = orel.fetchall()
    assert sorted(scols) == sorted(ocols)
    assert _norm(srows, scols) == _norm(orows, ocols)
