"""Corpus-preparation operators for LLM training pipelines.

Four first-class training-data ops over ``documents``:

- ``q_text_entropy``: unigram token entropy per doc (low-entropy = repetitive
  boilerplate — a standard pretraining quality filter). Closed form
  ``ln(n) - Σc·ln(c)/n`` from one two-level aggregation: the token explode
  combines map-side, so shuffle width is O(distinct tokens per doc).
- ``q_vocab``: frequency-ranked vocabulary with dense ids + doc frequency —
  the tokenizer-building step. Global top-k by (tf, token) is a single
  all-reduce over the per-token aggregate, never a full sort of the corpus.
- ``q_doc_chunk``: fixed-width character chunking with overlap (context-window
  packing prep). sequence+explode runs on the executors; 1→N expansion never
  touches the driver.
- ``q_decontaminate``: eval-set contamination scan — word-8-gram overlap
  between train docs and a held-out split. The eval side is tiny by
  construction, so its distinct shingle hashes broadcast and the probe is a
  map-side hash join: the 100 TB-safe shape for decontamination (shingle the
  big side once, broadcast the benchmark suite).

Tokenization contract matches text.py: ``split(trim(lower(text)), '\\s+')``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloud_data_sync_spark.operators.dedup import (
    _AUDIT_MOD,
    _AUG4_SQL,
    _AUG_SQL,
    augmented_documents,
)
from cloud_data_sync_spark.operators.tokens import low_toks, toks_documents
from cloud_data_sync_spark.registry import floor_ratio, register
from cloud_data_sync_spark.tables import load_table, session_substrate


@register(
    "q_text_entropy",
    oracle="""
WITH tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS c
  FROM (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
        FROM documents)
  GROUP BY doc_id, term
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy
FROM tf GROUP BY doc_id
""",
    doc=(
        "Unigram entropy per doc via ln(n) - Σc·ln(c)/n — one explode + "
        "two-level hash agg, both stages map-side combined."
    ),
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = (
        toks_documents(spark, sf_dir)
        .select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("c"))
    )
    c = F.col("c")
    return tf.groupBy("doc_id").agg(
        F.sum(c).cast("bigint").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.round(F.ln(F.sum(c)) - F.sum(c * F.ln(c)) / F.sum(c), 6).alias("entropy"),
    )


@register(
    "q_vocab",
    oracle="""
WITH tf AS (
  SELECT term, CAST(count(*) AS BIGINT) AS tf,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
        FROM documents)
  GROUP BY term
)
SELECT CAST(row_number() OVER (ORDER BY tf DESC, term) AS BIGINT) AS token_id,
       term, tf, df
FROM tf
ORDER BY token_id
LIMIT 1000
""",
    doc=(
        "Frequency-ranked vocabulary (tokenizer build): per-token tf/df "
        "aggregate, then dense ids by (tf desc, term). The ranked window runs "
        "over the aggregate (vocab-sized), not the corpus."
    ),
)
def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = (
        toks_documents(spark, sf_dir)
        .select("doc_id", F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(
            F.count("*").alias("tf"),
            F.count_distinct("doc_id").alias("df"),
        )
    )
    # Top-k FIRST (TakeOrderedAndProject — per-partition heap + k-row merge),
    # THEN dense ids over the ≤1000 surviving rows. The global window is
    # bounded by the limit, never by corpus size.
    top = tf.orderBy(F.desc("tf"), "term").limit(1000)
    w = Window.orderBy(F.desc("tf"), "term")
    return top.select(
        F.row_number().over(w).cast("bigint").alias("token_id"), "term", "tf", "df"
    )


_CHUNK, _STEP = 200, 160  # 40-char overlap


@register(
    "q_doc_chunk",
    oracle=f"""
SELECT d.doc_id,
       CAST((g.pos - 1) / {_STEP} AS BIGINT) AS chunk_id,
       CAST(length(substring(d.text, g.pos, {_CHUNK})) AS BIGINT) AS chunk_len,
       md5(substring(d.text, g.pos, {_CHUNK})) AS chunk_hash
FROM documents d,
     LATERAL unnest(generate_series(1, greatest(length(d.text) - {_CHUNK - _STEP}, 1), {_STEP}))
       AS g(pos)
""",
    doc=(
        f"Fixed-width chunking: {_CHUNK}-char windows every {_STEP} chars "
        "(overlap 40). sequence+explode expands 1→N on the executors; output "
        "carries (doc_id, chunk_id, len, hash) for downstream packing."
    ),
)
def q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Last start position is the smallest grid point whose chunk reaches the
    # end: inclusive bound len - (CHUNK - STEP). A doc whose previous chunk
    # already covers the tail generates no redundant final chunk.
    pos = F.explode(
        F.sequence(
            F.lit(1),
            F.greatest(F.length("text") - F.lit(_CHUNK - _STEP), F.lit(1)),
            F.lit(_STEP),
        )
    ).alias("pos")
    chunk = F.expr(f"substring(text, pos, {_CHUNK})")
    return (
        docs.select("doc_id", "text", pos)
        .select(
            "doc_id",
            ((F.col("pos") - 1) / _STEP).cast("bigint").alias("chunk_id"),
            F.length(chunk).cast("bigint").alias("chunk_len"),
            F.md5(chunk).alias("chunk_hash"),
        )
    )


_NGRAM = 8  # word-8-grams, the common decontamination shingle width


def _shingle8(toks: Column) -> Column:
    """Distinct xxhash64 longs of the word-8-grams of a token array (empty
    if <8). Both consumers (q_decontaminate, q_ngram_dup_mass) emit only
    counts/rates — never the hash itself — so the hash function is free to
    differ from the oracle's md5: equality joins and document-frequency
    counts are invariant to it (64-bit collisions over a ~100k-gram
    universe are ~1e-9 per corpus). Longs hash ~2× faster than md5 and
    shuffle/broadcast as 8 bytes instead of 32-char hex strings."""
    th = F.transform(toks, lambda t: F.xxhash64(t))
    n = F.size(toks)
    take = F.greatest(n - (_NGRAM - 1), F.lit(0))
    # Compose the gram hash from per-token hashes by zipping 8 shifted
    # slices — same O(tokens) shape as dedup._with_shingles (dedup.py:147)
    # widened from 3 to 8, but folding longs through xxhash64(acc, next)
    # instead of building an 8-token string per position: each token is
    # string-hashed once, and the 7 fold steps hash fixed-width longs —
    # no quadratic string allocation across the gram window.
    gram = F.slice(th, 1, take)
    for i in range(2, _NGRAM + 1):
        gram = F.zip_with(
            gram, F.slice(th, i, take), lambda a, b: F.xxhash64(a, b)
        )
    return F.array_distinct(gram)


# (doc_id, h8: array<long>) — distinct word-8-gram hashes of every
# augmented-corpus document, shared by q_decontaminate (full corpus; both
# its eval and train sides) and q_ngram_dup_mass (its doc_id % 8 audit
# sample — the filter commutes with the per-row shingle map, so the
# sample reads the same table). Longs-only payload, ~1 long per token.
def _aug_gram8(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_substrate(
        spark,
        sf_dir,
        "corpus.aug_gram8",
        "documents",
        lambda: augmented_documents(spark, sf_dir).select(
            "doc_id", _shingle8(low_toks()).alias("h8")
        ),
    )


@register(
    "q_decontaminate",
    oracle=f"""
WITH {_AUG_SQL},
tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM aug
),
sh AS (
  SELECT DISTINCT doc_id, md5(array_to_string(t[g.i:g.i + {_NGRAM - 1}], ' ')) AS h
  FROM tok, LATERAL unnest(generate_series(1, len(t) - {_NGRAM - 1})) AS g(i)
  WHERE len(t) >= {_NGRAM}
),
ev AS (SELECT DISTINCT h FROM sh WHERE doc_id % 97 = 0),
tr AS (SELECT doc_id, h FROM sh WHERE doc_id % 97 <> 0)
SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shared
FROM tr JOIN ev ON tr.h = ev.h
GROUP BY tr.doc_id
""",
    doc=(
        "Eval-set decontamination over the augmented corpus (dedup.py:40 — "
        "contains planted exact/near copies, so overlap actually exists): "
        "docs with doc_id %% 97 == 0 stand in for a held-out benchmark; train "
        "docs sharing any word-8-gram are flagged with their shared-shingle "
        "count. Eval shingles broadcast (benchmark suites are tiny next to a "
        "pretraining corpus), so the probe is a map-side join over the train "
        "shingles — the big side never shuffles."
    ),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _aug_gram8(spark, sf_dir).select(
        "doc_id", F.explode("h8").alias("h")
    )
    ev = docs.filter(F.col("doc_id") % 97 == 0).select("h").distinct()
    tr = docs.filter(F.col("doc_id") % 97 != 0)
    return (
        tr.join(F.broadcast(ev), "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )


_COVERAGE_K = 20  # vocab cap: small enough that OOV is non-degenerate


@register(
    "q_vocab_coverage",
    oracle=f"""
WITH tf AS (
  SELECT term, count(*) AS tf
  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
        FROM documents)
  GROUP BY term
),
vocab AS (SELECT term FROM tf ORDER BY tf DESC, term LIMIT {_COVERAGE_K}),
toks AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents
)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS oov_tokens,
       floor(CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 1000000) / 1000000 AS oov_rate
FROM toks t LEFT JOIN vocab v ON v.term = t.term
GROUP BY t.source
""",
    doc=(
        "Tokenizer coverage audit: per-source out-of-vocabulary rate "
        "against the frequency-ranked top-K vocabulary — the check every "
        "tokenizer rollout runs before committing to a vocab. The vocab "
        "is top-K by construction, so it BROADCASTS regardless of corpus "
        "size and the probe is a map-side hash join against the token "
        "explode; per-source rates then hash-aggregate with map-side "
        "combine. One corpus-sized shuffle (the tf aggregate), one "
        "broadcast, zero sorts of the corpus."
    ),
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = toks_documents(spark, sf_dir)
    tf = (
        docs.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("tf"))
    )
    vocab = (
        tf.orderBy(F.desc("tf"), "term")
        .limit(_COVERAGE_K)
        .select("term", F.lit(True).alias("in_vocab"))
    )
    toks = docs.select("source", F.explode("toks").alias("term"))
    oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("total_tokens"),
            F.sum(oov).cast("long").alias("oov_tokens"),
            floor_ratio(F.sum(oov).cast("double") / F.count("*"), 6).alias(
                "oov_rate"
            ),
        )
    )


@register(
    "q_data_mixture",
    oracle="""
WITH grp AS (
  SELECT source, lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY source, lang
),
tot AS (SELECT sum(n_docs) AS total_docs, count(*) AS n_groups FROM grp)
SELECT g.source, g.lang, g.n_docs, g.n_chars,
       round(CAST(g.n_docs AS DOUBLE) / t.total_docs, 6) AS actual_share,
       round(1.0 / t.n_groups, 6) AS target_share,
       round(least((1.0 / t.n_groups) /
                   (CAST(g.n_docs AS DOUBLE) / t.total_docs), 1.0), 6)
         AS sample_rate,
       CAST(floor(least((1.0 / t.n_groups) /
                        (CAST(g.n_docs AS DOUBLE) / t.total_docs), 1.0)
                  * g.n_docs) AS BIGINT) AS expected_docs
FROM grp g CROSS JOIN tot t
""",
    doc=(
        "Training-mixture reweighting: per-(source, lang) corpus shares "
        "vs a uniform target mixture, emitting the per-group downsampling "
        "rate (capped at 1 — no upsampling) and expected post-sample doc "
        "counts. The knob every pretraining data recipe turns before "
        "sharding; compose with q_sample_hash's deterministic hash "
        "sampling to materialize the mixture. ONE corpus-wide hash agg; "
        "the group totals are a single broadcast-sized row joined back "
        "map-side (the scalar cross join is a 1-row pack, whitelisted "
        "like the other scalar packs)."
    ),
)
def q_data_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grp = docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars")
    )
    tot = grp.agg(
        F.sum("n_docs").alias("total_docs"), F.count("*").alias("n_groups")
    )
    actual = F.col("n_docs").cast("double") / F.col("total_docs")
    target = F.lit(1.0) / F.col("n_groups")
    rate = F.least(target / actual, F.lit(1.0))
    return grp.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "n_chars",
        F.round(actual, 6).alias("actual_share"),
        F.round(target, 6).alias("target_share"),
        F.round(rate, 6).alias("sample_rate"),
        F.floor(rate * F.col("n_docs")).cast("long").alias("expected_docs"),
    )


_TEMP = 0.5  # sampling temperature exponent (T=1 natural, T=0 uniform)


@register(
    "q_mixture_temperature",
    oracle=f"""
WITH grp AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
),
tot AS (
  SELECT sum(n_docs) AS total_docs,
         sum(pow(CAST(n_docs AS DOUBLE), {_TEMP})) AS z
  FROM grp
)
SELECT g.lang, g.n_docs,
       round(CAST(g.n_docs AS DOUBLE) / t.total_docs, 6) AS natural_share,
       round(pow(CAST(g.n_docs AS DOUBLE), {_TEMP}) / t.z, 6) AS temp_share,
       round((pow(CAST(g.n_docs AS DOUBLE), {_TEMP}) / t.z)
             / (CAST(g.n_docs AS DOUBLE) / t.total_docs), 6) AS boost
FROM grp g CROSS JOIN tot t
""",
    doc=(
        "Temperature-scaled language mixture (the multilingual-pretraining "
        "sampling formula): p_l ∝ n_l^T with T=0.5, flattening the "
        "head-language dominance while keeping rank order — boost > 1 "
        "means the language is upsampled relative to its natural share. "
        "Complements q_data_mixture's capped-uniform target with the "
        "power-law form every multilingual recipe actually uses. ONE "
        "corpus hash agg; the (total, normalizer) scalar is a 1-row "
        "broadcast pack joined back map-side (whitelisted scalar cross "
        "join, like q_data_mixture)."
    ),
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    grp = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
    )
    powed = F.pow(F.col("n_docs").cast("double"), F.lit(_TEMP))
    tot = grp.agg(
        F.sum("n_docs").alias("total_docs"), F.sum(powed).alias("z")
    )
    natural = F.col("n_docs").cast("double") / F.col("total_docs")
    temp = powed / F.col("z")
    return grp.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.round(natural, 6).alias("natural_share"),
        F.round(temp, 6).alias("temp_share"),
        F.round(temp / natural, 6).alias("boost"),
    )


@register(
    "q_ngram_dup_mass",
    oracle=f"""
WITH {{aug}},
tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM aug
),
sh AS (
  SELECT DISTINCT doc_id, md5(array_to_string(t[g.i:g.i + {_NGRAM - 1}], ' ')) AS h
  FROM tok, LATERAL unnest(generate_series(1, len(t) - {_NGRAM - 1})) AS g(i)
  WHERE len(t) >= {_NGRAM}
),
per AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY h)
SELECT CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
       CAST(sum(df) AS BIGINT) AS total_incidences,
       CAST(sum(CASE WHEN df > 1 THEN df ELSE 0 END) AS BIGINT) AS dup_incidences,
       round(sum(CASE WHEN df > 1 THEN df ELSE 0 END)
             / CAST(sum(df) AS DOUBLE), 6) AS dup_mass
FROM per
""".replace("{aug}", _AUG4_SQL),
    doc=(
        "Corpus duplication-mass report: the fraction of (doc, word-8-gram) "
        "incidences whose gram occurs in more than one document — the "
        "single number dataset cards report as 'duplication rate', and the "
        "health metric that decides whether a dedup pass is worth its "
        "cost. Same shingle construction as q_decontaminate "
        "(corpus.py:_shingle8), estimated on the dup-closed doc_id %% 8 "
        "audit sample (dedup.py:_audit_docs — the rate is a statistic "
        "and the sample contains every planted copy family; the dedup "
        "operators themselves stay full-corpus). Shuffle carries 8-byte "
        "xxhash64 gram keys, never text; the per-gram document-frequency agg "
        "combines map-side and the final fold is ONE row. Uniform hash "
        "keys → skew-free co-partition at any corpus size."
    ),
)
def q_ngram_dup_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the %8 audit sample reads the shared full-corpus 8-gram table —
    # the filter commutes with the per-row shingle map (dedup._audit_docs
    # is the text-level twin of this filter)
    sh = _aug_gram8(spark, sf_dir).filter(
        F.col("doc_id") % _AUDIT_MOD == 0
    ).select("doc_id", F.explode("h8").alias("h"))
    per = sh.groupBy("h").agg(F.count("*").alias("df"))
    dup_df = F.when(F.col("df") > 1, F.col("df")).otherwise(F.lit(0))
    return per.agg(
        F.count("*").alias("n_grams"),
        F.sum(F.when(F.col("df") > 1, 1).otherwise(0)).alias("n_dup_grams"),
        F.sum("df").alias("total_incidences"),
        F.sum(dup_df).alias("dup_incidences"),
        F.round(
            F.sum(dup_df).cast("double") / F.sum("df").cast("double"), 6
        ).alias("dup_mass"),
    )


@register(
    "q_token_budget",
    oracle="""
WITH grp AS (
  SELECT source, lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split_regex(trim(lower(text)), '\\s+')))
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY source, lang
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM grp)
SELECT source, lang, n_docs, n_tokens,
       floor(n_tokens / CAST(t AS DOUBLE) * 1000000) / 1000000 AS share,
       floor(CAST(sum(n_tokens) OVER
               (ORDER BY n_tokens DESC, source, lang) AS DOUBLE)
             / t * 1000000) / 1000000 AS cum_share,
       CAST(CASE WHEN CAST(sum(n_tokens) OVER
                    (ORDER BY n_tokens DESC, source, lang) AS DOUBLE)
                    - n_tokens < 0.9 * t
            THEN 1 ELSE 0 END AS BIGINT) AS in_budget
FROM grp, tot
""",
    doc=(
        "Token-budget accounting: per-(source, lang) token totals with "
        "descending cumulative share and a 90%%-budget membership flag — "
        "the report a training-data pipeline produces before committing "
        "a mixture (which sources fund the token budget, which are "
        "long-tail). ONE corpus hash agg (token counts are map-only "
        "size(split()) expressions — no explode; partials combine "
        "map-side) onto a bounded group set (sources x langs — a config "
        "cardinality, not a data cardinality), then a 1-row total pack "
        "and a running-sum window over that bounded aggregate (the "
        "q_vocab pattern: windows over config-bounded sets are "
        "single-partition by construction and stay KB-sized at any "
        "corpus scale). Ratios truncated via floor 1e-6 (dyadic-safe); "
        "the budget flag compares exact integer cumulative sums against "
        "0.9*total with strict <, identical arithmetic on both engines."
    ),
)
def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = toks_documents(spark, sf_dir)
    grp = docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("toks")).cast("long").alias("n_tokens"),
    )
    tot = grp.agg(F.sum("n_tokens").alias("t"))
    w = Window.orderBy(F.desc("n_tokens"), "source", "lang")
    cum = F.sum("n_tokens").over(w).cast("double")
    td = F.col("t").cast("double")
    return grp.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        floor_ratio(F.col("n_tokens") / td, 6).alias("share"),
        floor_ratio(cum / F.col("t"), 6).alias("cum_share"),
        F.when(cum - F.col("n_tokens") < 0.9 * F.col("t"), 1)
        .otherwise(0)
        .cast("long")
        .alias("in_budget"),
    )


# ---------------------------------------------------------------------------
# Nucleus (top-p) per-source selection and deterministic weighted sampling
# ---------------------------------------------------------------------------

_TOP_P = 0.5  # keep the head of each source until half its chars are covered


@register(
    "q_group_top_p",
    oracle=f"""
WITH ranked AS (
  SELECT source, doc_id, n_chars,
         sum(n_chars) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum,
         sum(n_chars) OVER (PARTITION BY source) AS tot
  FROM documents
),
kept AS (
  SELECT * FROM ranked WHERE cum - n_chars < {_TOP_P} * tot
)
SELECT source,
       CAST(count(*) AS BIGINT) AS kept_docs,
       CAST(sum(n_chars) AS BIGINT) AS kept_chars,
       floor(CAST(sum(n_chars) AS DOUBLE) / max(tot) * 1000000) / 1000000
         AS kept_share
FROM kept GROUP BY source ORDER BY source
""",
    doc=(
        "Nucleus (top-p) selection per source: keep each source's largest "
        "documents until the cumulative character mass first reaches "
        f"p={_TOP_P} of the source total (the crossing doc is kept — "
        "standard nucleus semantics, cum BEFORE this doc < p·total). The "
        "cumulative sum runs over exact BIGINT char counts, so the keep "
        "decision has no floating-point boundary; ties break on doc_id. "
        "Plan shape: ONE exchange on source serves both windows (the "
        "ordered running sum and the unordered source total), then a "
        "map-side filter and a source-level hash agg. This is the "
        "head-selection primitive for mixture building when a source "
        "must be downsampled to its highest-value documents."
    ),
)
def q_group_top_p(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w_cum = (
        Window.partitionBy("source")
        .orderBy(F.desc("n_chars"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("source")
    ranked = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.sum("n_chars").over(w_cum).alias("cum"),
        F.sum("n_chars").over(w_tot).alias("tot"),
    )
    kept = ranked.filter(
        (F.col("cum") - F.col("n_chars")) < F.lit(_TOP_P) * F.col("tot")
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("kept_docs"),
            F.sum("n_chars").alias("kept_chars"),
            floor_ratio(
                F.sum("n_chars").cast("double") / F.max("tot"), 6
            ).alias("kept_share"),
        )
        .orderBy("source")
    )


_WS_K = 50


@register(
    "q_weighted_sample",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) + 1) / 4294967296.0)
           / n_chars AS k
  FROM documents
)
SELECT doc_id, source, n_chars,
       floor(k * 1000000) / 1000000 AS sample_key
FROM keyed
ORDER BY k DESC, doc_id
LIMIT {_WS_K}
""",
    doc=(
        "Deterministic weighted reservoir sample (Efraimidis-Spirakis "
        "A-Res): each doc draws u from md5(doc_id) and competes on key "
        "ln(u)/weight (monotone-equivalent to u^(1/w)); the top-k keys ARE "
        "the weighted sample without replacement, with inclusion "
        "probability proportional to n_chars. The md5-derived u makes the "
        "sample identical across engines, retries, and topologies — "
        "rand() would resample on every task retry. Plan shape: the key "
        "is a per-row projection (map-only) and the top-k is "
        "TakeOrderedAndProject — a per-partition heap plus a k-row merge; "
        "the corpus is never globally sorted and never shuffled. This is "
        "the size-weighted subsampling primitive for corpus downscaling "
        "(sample tokens, not documents, uniformly)."
    ),
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        + 1
    ) / F.lit(4294967296.0)
    # try_divide: a zero-weight (empty) doc has no sampling mass — ANSI
    # mode would otherwise KILL the job on ln(u)/0, while DuckDB's double
    # division by zero is NULL natively; NULL keys sort last under both
    # engines' k DESC, so weightless docs lose the reservoir competition
    # identically on both sides
    keyed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.try_divide(F.log(u), F.col("n_chars")).alias("k"),
    )
    return (
        keyed.orderBy(F.desc("k"), "doc_id")
        .limit(_WS_K)
        .select(
            "doc_id",
            "source",
            "n_chars",
            floor_ratio(F.col("k"), 6).alias("sample_key"),
        )
    )


_MIX_BUDGET = 200  # total sampled-doc budget across languages


@register(
    "q_mixture_sample",
    oracle=f"""
WITH grp AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
),
tot AS (
  SELECT sum(pow(CAST(n_docs AS DOUBLE), {_TEMP})) AS z FROM grp
),
quota AS (
  SELECT g.lang,
         CAST(floor(pow(CAST(g.n_docs AS DOUBLE), {_TEMP}) / t.z
                    * {_MIX_BUDGET}) AS BIGINT) AS quota
  FROM grp g CROSS JOIN tot t
),
ranked AS (
  SELECT d.doc_id, d.lang, q.quota,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id)
           AS rk
  FROM documents d JOIN quota q ON d.lang = q.lang
)
SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= quota
""",
    doc=(
        "Materialize the temperature-scaled mixture: per-language quotas "
        f"(floor(share_T x {_MIX_BUDGET}), same p proportional to n^T "
        "definition as q_mixture_temperature) are FILLED with concrete "
        "documents, selected by md5-rank within each language — the "
        "deterministic 'actually build the sampled corpus' step that the "
        "share-computing queries stop short of. Every engine, retry, and "
        "topology picks the IDENTICAL documents (rand() would not). Plan "
        "shape: ONE corpus hash agg to langs cells; the normalizer is a "
        "1-row broadcast pack (whitelisted scalar cross join); quotas "
        "attach to docs via a broadcast-sized lang join; selection is "
        "one lang-partitioned rank window. The per-language window is "
        "the skew exposure at 100 TB — for a dominant language, pre-"
        "aggregate to per-shard heaps (the q_topk pattern) or sample "
        "hierarchically (shard-level quotas first)."
    ),
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grp = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    powed = F.pow(F.col("n_docs").cast("double"), F.lit(_TEMP))
    tot = grp.agg(F.sum(powed).alias("z"))
    quota = grp.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.floor(powed / F.col("z") * _MIX_BUDGET).cast("long").alias("quota"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.join(F.broadcast(quota), "lang")
        .select("doc_id", "lang", "quota", F.row_number().over(w).cast("long").alias("rk"))
        .filter(F.col("rk") <= F.col("quota"))
        .select("doc_id", "lang", "rk")
    )


_ZIPF_K = 1000


@register(
    "q_zipf_fit",
    oracle=f"""
WITH tf AS (
  SELECT term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
        FROM documents)
  GROUP BY term
),
top AS (SELECT term, tf FROM tf ORDER BY tf DESC, term LIMIT {_ZIPF_K}),
xy AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY tf DESC, term) AS DOUBLE)) AS lx,
         ln(CAST(tf AS DOUBLE)) AS ly
  FROM top
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(lx) AS sx, sum(ly) AS sy,
         sum(lx * lx) AS sxx, sum(lx * ly) AS sxy, sum(ly * ly) AS syy
  FROM xy
)
SELECT n AS n_terms,
       floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 10000) / 10000
         AS zipf_slope,
       floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
             * 10000) / 10000 AS intercept,
       floor((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)) * 10000) / 10000
         AS r2
FROM s
""",
    doc=(
        "Zipf-law fit over the vocabulary: OLS of ln(tf) on ln(rank) for "
        f"the top-{_ZIPF_K} tokens — the power-law exponent dataset cards "
        "report, and a drift alarm for corpus composition (natural text "
        "sits near slope -1; template/boilerplate floods flatten it). "
        "Plan shape: the same per-token tf aggregate as q_vocab, top-k "
        "via TakeOrderedAndProject (per-partition heap, never a corpus "
        "sort), rank ids over the <=k surviving rows (the capped global "
        "window, q_vocab precedent), then the regression reduces in "
        "closed form on ONE 1-row aggregate of (n, Sx, Sy, Sxx, Sxy, "
        "Syy) — no iterative fitting, no driver round-trip. Tie groups "
        "share ln(tf), so rank permutations inside a tie cannot move "
        "the fit; the k-boundary cut is (tf, term)-deterministic."
    ),
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = (
        toks_documents(spark, sf_dir)
        .select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("tf"))
    )
    top = tf.orderBy(F.desc("tf"), "term").limit(_ZIPF_K)
    w = Window.orderBy(F.desc("tf"), "term")
    xy = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("lx"),
        F.log(F.col("tf").cast("double")).alias("ly"),
    )
    s = xy.agg(
        F.count("*").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("ly") * F.col("ly")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.alias("n_terms"),
        floor_ratio(slope, 4).alias("zipf_slope"),
        floor_ratio((sy - slope * sx) / n, 4).alias("intercept"),
        floor_ratio(
            (n * sxy - sx * sy)
            * (n * sxy - sx * sy)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            4,
        ).alias("r2"),
    )


_NEYMAN_BUDGET = 1000  # documents of labeling budget to allocate


@register(
    "q_neyman_alloc",
    oracle=f"""
WITH grp AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS s1,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
  FROM documents GROUP BY source, lang
),
sig AS (
  SELECT source, lang, n_docs,
         round(sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n_docs)
                    / (n_docs - 1)), 6) AS sigma
  FROM grp WHERE n_docs > 1
),
tot AS (SELECT sum(n_docs * sigma) AS z FROM sig)
SELECT g.source, g.lang, g.n_docs, g.sigma,
       round(g.n_docs * g.sigma / t.z, 6) AS alloc_share,
       CAST(least(floor({_NEYMAN_BUDGET} * (g.n_docs * g.sigma / t.z)),
                  CAST(g.n_docs AS DOUBLE)) AS BIGINT) AS alloc_docs
FROM sig g CROSS JOIN tot t
ORDER BY source, lang
""",
    doc=(
        "Neyman-optimal stratified sampling allocation: split a fixed "
        "labeling/eval budget of {b} documents across (source, lang) "
        "strata proportionally to N_h * sigma_h — the allocation that "
        "minimizes the variance of the estimated corpus mean for a "
        "fixed budget (vs the proportional allocation q_stratified_"
        "sample uses). This is the op that decides where human-label "
        "or eval spend goes in a data-curation loop: big, HETEROGENEOUS "
        "strata get the samples; uniform strata need few no matter "
        "their size. Exactness: per-stratum doc counts and char-length "
        "moments are exact BIGINTs; sigma is one closed-form scalar per "
        "stratum ROUNDED to 6 dp on both engines before entering the "
        "normalizer sum (the q_perplexity_buckets boundary contract), "
        "and the final floor()ed doc counts are capped at the stratum "
        "size. Plan shape: ONE corpus hash agg to strata cells + a "
        "1-row normalizer pack joined back map-side (whitelisted "
        "scalar cross join, like q_mixture_temperature). At 100 TB "
        "sigma_h comes from the same partial moments — no second pass."
    ).format(b=_NEYMAN_BUDGET),
)
def q_neyman_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    grp = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("s1"),
            F.sum(F.col("n_chars") * F.col("n_chars")).alias("s2"),
        )
    )
    sig = grp.filter(F.col("n_docs") > 1).select(
        "source",
        "lang",
        "n_docs",
        F.round(
            F.sqrt(
                (
                    F.col("s2")
                    - F.col("s1").cast("double") * F.col("s1") / F.col("n_docs")
                )
                / (F.col("n_docs") - 1)
            ),
            6,
        ).alias("sigma"),
    )
    tot = sig.agg(F.sum(F.col("n_docs") * F.col("sigma")).alias("z"))
    share = F.col("n_docs") * F.col("sigma") / F.col("z")
    return (
        sig.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "n_docs",
            "sigma",
            F.round(share, 6).alias("alloc_share"),
            F.least(
                F.floor(_NEYMAN_BUDGET * share),
                F.col("n_docs").cast("double"),
            )
            .cast("long")
            .alias("alloc_docs"),
        )
        .orderBy("source", "lang")
    )


# -- DSIR: data selection via importance resampling ---------------------------

# Hashed-feature space size. DSIR (Xie et al. 2023) uses 10k hashed
# n-gram buckets at production scale; 256 keeps the oracle's per-token
# md5 affordable while exercising the identical plan shape (the bucket
# frame is broadcast either way — 10k rows is as "tiny" as 256 at
# 100 TB).
_DSIR_BUCKETS = 256
# Jelinek-Mercer interpolation weight: p(b) = LAM*emp(b) + (1-LAM)/B.
# Unlike add-one smoothing — whose bias is asymmetric in the two
# corpus totals (-B/n_target per token here, which drowned the signal:
# the target total is a fraction of the raw total) — interpolation
# scores a proportionally-represented bucket EXACTLY 0 regardless of
# totals, so only genuine distribution shift moves a doc's weight.
_DSIR_LAMBDA = 0.9
# The target distribution: English docs stand in for the curated
# high-quality sample a real run feeds (the raw side is the full
# corpus). Any predicate works; the estimator only needs the two
# bucket-count frames.
_DSIR_TARGET = "lang = 'en'"


@register(
    "q_corpus_dsir",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, source,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents
),
b AS (
  SELECT doc_id, lang, source,
         CAST('0x' || substr(md5(w), 1, 4) AS INTEGER) % {_DSIR_BUCKETS} AS b
  FROM toks
),
raw AS (SELECT b, count(*) AS c FROM b GROUP BY b),
tgt AS (SELECT b, count(*) AS c FROM b WHERE {_DSIR_TARGET} GROUP BY b),
tot AS (
  SELECT (SELECT count(*) FROM b WHERE {_DSIR_TARGET}) AS nt,
         (SELECT count(*) FROM b) AS nr
),
lr AS (
  SELECT raw.b,
         ln({_DSIR_LAMBDA} * coalesce(tgt.c, 0) / tot.nt
            + {1.0 - _DSIR_LAMBDA} / {_DSIR_BUCKETS})
         - ln({_DSIR_LAMBDA} * raw.c / tot.nr
            + {1.0 - _DSIR_LAMBDA} / {_DSIR_BUCKETS}) AS lr
  FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tot
),
docw AS (
  SELECT b.doc_id, b.lang, b.source, sum(lr.lr) AS logw
  FROM b JOIN lr ON b.b = lr.b
  GROUP BY b.doc_id, b.lang, b.source
)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       floor(avg(logw) * 1000000) / 1000000 AS avg_logw,
       floor(sum(CASE WHEN logw > 0 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE) * 1000000) / 1000000 AS sel_frac
FROM docw GROUP BY lang, source
""",
    doc=(
        "DSIR — data selection via importance resampling (Xie et al. "
        "2023), the standard recipe for steering a raw crawl toward a "
        "target domain: hashed-unigram bucket counts estimate a target "
        "LM (English docs) and a raw LM (full corpus) with Jelinek-"
        "Mercer interpolation smoothing (proportional buckets score "
        "exactly 0 — add-one smoothing's asymmetric total bias drowned "
        "the signal), each doc scores the SUM of per-token "
        "log-likelihood ratios, and selection keeps positive-weight "
        "docs. Reported per (lang, source): doc count, mean log-weight "
        "and selected fraction — English groups score positive, "
        "non-English negative, which is the estimator working. Plan "
        "shape: the tokenized substrate explodes once, the two bucket "
        "frames are 256-row aggregates (broadcast to the token "
        "stream — never a corpus-side shuffle), and the per-doc "
        "reduce is the one (doc) hash aggregate every text operator "
        "pays. At 100 TB the bucket frames are still KB-scale: the "
        "importance model is a broadcast variable by construction, "
        "which is exactly why DSIR scales where classifier-based "
        "selection needs GPU inference."
    ),
)
def q_corpus_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloud_data_sync_spark.operators.governance import bucket16

    toks = toks_documents(spark, sf_dir).select(
        "doc_id", "lang", "source", F.explode("toks").alias("w")
    )
    b = toks.select(
        "doc_id",
        "lang",
        "source",
        (bucket16(F.col("w")) % _DSIR_BUCKETS).alias("b"),
    )
    # ONE bucket-frame aggregate carries both LMs (raw count + target
    # count per bucket) and the totals derive from the 256-row frame —
    # r11: the raw/tgt/tot trio was three logical passes over the token
    # stream (two distinct aggregate subtrees + a third global fold);
    # fused, the only token-stream aggregation is this one, and the
    # totals fold reads 256 rows. tc = 0 where the old left join gave
    # NULL; the coalesce below then yields the identical value.
    bucket_counts = b.groupBy("b").agg(
        F.count("*").alias("rc"),
        F.sum(F.when(F.expr(_DSIR_TARGET), 1).otherwise(0)).alias("tc"),
    )
    tot = bucket_counts.agg(
        F.sum("tc").alias("nt"), F.sum("rc").alias("nr")
    )
    lr = (
        bucket_counts
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            # try_divide: a corpus with ZERO target-matching tokens (nt =
            # 0 — one stray doc suffices) or zero tokens at all is an
            # ANSI job-killer on plain '/'; DuckDB's /0 is NULL, NULL
            # propagates through log() on both engines — the importance
            # model is undefined without a target sample
            (
                F.log(
                    F.try_divide(
                        _DSIR_LAMBDA * F.coalesce(F.col("tc"), F.lit(0)),
                        F.col("nt"),
                    )
                    + (1.0 - _DSIR_LAMBDA) / _DSIR_BUCKETS
                )
                - F.log(
                    F.try_divide(
                        _DSIR_LAMBDA * F.col("rc"), F.col("nr")
                    )
                    + (1.0 - _DSIR_LAMBDA) / _DSIR_BUCKETS
                )
            ).alias("lr"),
        )
    )
    docw = (
        b.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "lang", "source")
        .agg(F.sum("lr").alias("logw"))
    )
    return docw.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        floor_ratio(F.avg("logw"), 6).alias("avg_logw"),
        floor_ratio(
            F.sum(F.when(F.col("logw") > 0, 1).otherwise(0))
            / F.count("*").cast("double"),
            6,
        ).alias("sel_frac"),
    )


# -- Heaps' law: vocabulary growth --------------------------------------------

_HEAPS_POINTS = 10


@register(
    "q_heaps_law",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS g
  FROM toks, LATERAL unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)
),
first_seen AS (
  SELECT g, min(doc_id) AS fs FROM grams GROUP BY g
),
mx AS (SELECT max(doc_id) AS m FROM grams),
cuts AS (
  SELECT k, CAST(floor(mx.m / pow(2.0, {_HEAPS_POINTS} - k)) AS BIGINT) AS c
  FROM mx, LATERAL unnest(range(1, {_HEAPS_POINTS} + 1)) AS u(k)
),
pts AS (
  SELECT c.k,
         (SELECT count(DISTINCT doc_id) FROM grams WHERE doc_id <= c.c)
           AS n_docs,
         (SELECT count(*) FROM first_seen WHERE fs <= c.c) AS vocab
  FROM cuts c
),
ln_pts AS (
  SELECT ln(CAST(n_docs AS DOUBLE)) AS x, ln(CAST(vocab AS DOUBLE)) AS y
  FROM pts WHERE n_docs > 0 AND vocab > 0
),
fit AS (
  SELECT count(*) AS np, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM ln_pts
)
SELECT CAST(np AS BIGINT) AS n_points,
       floor((np * sxy - sx * sy) / (np * sxx - sx * sx) * 1000000)
         / 1000000 AS beta,
       floor((exp((sy - (np * sxy - sx * sy) / (np * sxx - sx * sx) * sx)
                  / np) - 0.000000001) * 10000) / 10000 AS k_coef,
       floor(pow(np * sxy - sx * sy, 2)
             / ((np * sxx - sx * sx) * (np * syy - sy * sy))
             * 1000000) / 1000000 AS r2
FROM fit
""",
    doc=(
        "Heaps'-law fit over the word-TRIGRAM vocabulary — the "
        "growth exponent V(n) = K n^b that sizes tokenizer/n-gram-LM "
        "table budgets before a corpus is scaled (expected new-vocab "
        "volume at 100x the data is K(100n)^b, a number a pipeline "
        "wants BEFORE paying for the crawl). Trigrams, not unigrams, "
        "deliberately: this corpus's unigram vocabulary saturates at "
        "31 words by doc 5 (a degenerate flat line — itself a finding "
        "q_vocab exposes), while the trigram space keeps growing "
        "through the full corpus, which is the regime the law "
        "describes. Checkpoints are LOG-spaced (m/2^9 .. m) so the "
        "fit sees the growth region, not ten saturated points. Plan: "
        "one first-seen hash aggregate (first occurrence is an "
        "aggregate, not a scan-order property), checkpoint counts via "
        "the broadcast 10-row cut pack fanout — kept over three "
        "measured single-aggregate rewrites because the fanout rows "
        "live only inside one codegen pipeline (explode -> filter -> "
        "partial count; never shuffled) and the log-spaced filter "
        "drops most rows before any aggregate update (A/B numbers at "
        "the call site) — then closed-form log-log "
        "OLS on <= 10 points. The k_coef floor is epsilon-shifted: "
        "exp of mean-ln of exact integers lands ON decimal lattice "
        "points (31.0 did)."
    ),
)
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = toks_documents(spark, sf_dir)
    take = "greatest(size(toks) - 2, 0)"
    tri = (
        f"zip_with(zip_with(slice(toks, 1, {take}), slice(toks, 2, {take}),"
        " (a, b) -> concat(a, ' ', b)),"
        f" slice(toks, 3, {take}), (p, c) -> concat(p, ' ', c))"
    )
    grams = docs.select(
        "doc_id", F.explode(F.expr(tri)).alias("g")
    )
    first_seen = grams.groupBy("g").agg(F.min("doc_id").alias("fs"))
    # A doc appears in `grams` iff its trigram array is non-empty, i.e.
    # size(toks) >= 3 — so the max-doc scalar and the per-cut doc counts
    # read the DOC table, not the exploded gram stream. Before r11 both
    # re-ran the whole trigram explode (three explode passes per
    # invocation); the filter is the same predicate the explode applies
    # implicitly, and .distinct() stays because the degenerate gates
    # feed duplicate-doc_id vintages (guide §2.4: remove repeated
    # passes outright).
    tri_docs = docs.filter(F.size("toks") >= 3).select("doc_id")
    mx = tri_docs.agg(F.max("doc_id").alias("m"))
    # Shape decision, MEASURED (r8 verdict item 3 asked for "one
    # conditional aggregate" instead of this 10-row broadcast fanout;
    # three single-aggregate shapes were implemented and A/B'd at sf0.1,
    # idle box, alternating min-of-4 against this one): 10x sum(when(fs
    # <= cut_k)) columns 1.60 s; same with cuts hoisted into the 1-row
    # pack 1.41 s; per-row bucket index (HOF over the power array) +
    # groupBy(bucket) + cum-sum over <=11 rows 1.25 s; THIS fanout
    # 1.02-1.21 s. The fanout wins because it is map-side and partially
    # aggregated — the 10x rows exist only transiently inside one
    # whole-stage-codegen pipeline (explode of 10 broadcast rows ->
    # filter -> partial count), never materialized or shuffled, and the
    # log-spaced filter drops ~80% of fanned rows BEFORE any aggregate
    # update, while every conditional-aggregate variant pays 10 agg
    # updates (or a 10-element HOF) on EVERY row. At 100 TB both shapes
    # are one pass over first_seen; this one does less work per row.
    cuts = mx.select(
        F.explode(
            F.array(*[F.lit(k) for k in range(1, _HEAPS_POINTS + 1)])
        ).alias("k"),
        "m",
    ).select(
        "k",
        F.floor(
            F.col("m") / F.pow(F.lit(2.0), _HEAPS_POINTS - F.col("k"))
        )
        .cast("long")
        .alias("c"),
    )
    docs_per_cut = (
        tri_docs
        .distinct()
        .crossJoin(F.broadcast(cuts))
        .filter(F.col("doc_id") <= F.col("c"))
        .groupBy("k")
        .agg(F.count("*").alias("n_docs"))
    )
    vocab_per_cut = (
        first_seen.crossJoin(F.broadcast(cuts))
        .filter(F.col("fs") <= F.col("c"))
        .groupBy("k")
        .agg(F.count("*").alias("vocab"))
    )
    pts = docs_per_cut.join(vocab_per_cut, "k").filter(
        (F.col("n_docs") > 0) & (F.col("vocab") > 0)
    )
    ln_pts = pts.select(
        F.log(F.col("n_docs").cast("double")).alias("x"),
        F.log(F.col("vocab").cast("double")).alias("y"),
    )
    fit = ln_pts.agg(
        F.count("*").alias("np"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    # try_divide throughout the OLS readout: a 1-point (or single-doc)
    # corpus zeroes the x-variance and np can be 0 outright — job-killing
    # ANSI errors on plain '/' while DuckDB's double /0 is NULL natively
    # (the fit is undefined; NULL is the cross-engine answer)
    slope = F.try_divide(
        F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx"),
    )
    return fit.select(
        F.col("np").cast("long").alias("n_points"),
        (F.floor(slope * 1_000_000) / 1_000_000).alias("beta"),
        (
            F.floor(
                (
                    F.exp(
                        F.try_divide(
                            F.col("sy") - slope * F.col("sx"), F.col("np")
                        )
                    )
                    - F.lit(1e-9)
                )
                * 10_000
            )
            / 10_000
        ).alias("k_coef"),
        (
            F.floor(
                F.try_divide(
                    F.pow(
                        F.col("np") * F.col("sxy")
                        - F.col("sx") * F.col("sy"),
                        2,
                    ),
                    (
                        F.col("np") * F.col("sxx")
                        - F.col("sx") * F.col("sx")
                    )
                    * (
                        F.col("np") * F.col("syy")
                        - F.col("sy") * F.col("sy")
                    ),
                )
                * 1_000_000
            )
            / 1_000_000
        ).alias("r2"),
    )
