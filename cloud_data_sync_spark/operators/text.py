"""Text-analysis operators over the ``documents`` table.

Training-data-pipeline primitives: token counting, per-language corpus
stats, stopword-lexicon language ID, quality scoring, and document
fingerprinting. All pure ``pyspark.sql.functions`` — no Python UDFs in the
hot path, so everything stays inside whole-stage codegen and scales by
partition count alone (no driver-side state, no collects).

Tokenization contract (shared with every oracle): ``split(trim(text), '\\s+')``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloud_data_sync_spark.operators.tokens import toks_documents
from cloud_data_sync_spark.registry import floor_ratio, register
from cloud_data_sync_spark.tables import (
    load_table,
    materialize,
    session_cached,
    session_substrate,
)

# Tiny embedded stopword lexicons for the n-gram/stopword language-ID
# heuristic. Deterministic and identical in the oracle SQL.
LANG_LEXICON: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "de": ("der", "die", "das", "und", "zu"),
    "fr": ("le", "la", "de", "et", "que"),
    "zh": ("de", "le", "shi", "bu", "wo"),
}


def tokens_col(text_col: str = "text"):
    return F.split(F.trim(F.col(text_col)), r"\s+")


@register(
    "q_text_stats",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS total_tokens,
       round(avg(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)), 6)
         AS avg_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id
FROM documents GROUP BY lang
""",
    doc="Per-language corpus stats: doc/token/char counts.",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(tokens_col())
    )
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg(F.col("n_tokens").cast("double")), 6).alias("avg_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
    )


@register(
    "q_text_term_freq",
    oracle="""
SELECT term, n_term FROM (
  SELECT term, CAST(count(*) AS BIGINT) AS n_term,
         row_number() OVER (ORDER BY count(*) DESC, term) AS rn
  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
        FROM documents)
  GROUP BY term
) WHERE rn <= 20
""",
    doc="Corpus term frequency, top-20 (explode → groupBy; partial agg map-side; "
    "global top-k via TakeOrderedAndProject, never a single-partition window).",
)
def q_text_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    terms = toks_documents(spark, sf_dir).select(
        F.explode("toks").alias("term")
    )
    counted = terms.groupBy("term").agg(F.count("*").alias("n_term"))
    # orderBy().limit(k) compiles to TakeOrderedAndProject: each partition
    # keeps its own top-20 and the driver merges 20 rows per partition. A
    # global row_number() window would funnel the whole term dictionary
    # (unbounded at corpus scale) through one partition.
    return (
        counted.orderBy(F.desc("n_term"), F.asc("term"))
        .limit(20)
        .select("term", "n_term")
    )


def _lexicon_values_sql() -> str:
    rows = ", ".join(
        f"('{lang}', '{w}')" for lang, words in LANG_LEXICON.items() for w in words
    )
    return f"(VALUES {rows}) lex(cand_lang, word)"


# Shared language-ID CTEs: q_lang_id emits the per-doc prediction,
# q_lang_confusion aggregates it into the confusion matrix. One SQL
# definition so the two oracles cannot diverge on the argmax rule.
def _lang_id_ctes() -> str:
    return f"""
toks AS (
  SELECT doc_id, lang,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
  FROM documents
),
scores AS (
  SELECT t.doc_id, t.lang, lex.cand_lang,
         CAST(count(*) AS BIGINT) AS n_hits
  FROM toks t JOIN {_lexicon_values_sql()} ON t.word = lex.word
  GROUP BY t.doc_id, t.lang, lex.cand_lang
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY n_hits DESC, cand_lang) AS rn
  FROM scores
),
lang_pred AS (
  SELECT doc_id, lang, cand_lang AS pred_lang, n_hits
  FROM ranked WHERE rn = 1
)
"""


@register(
    "q_lang_id",
    oracle=f"""
WITH {_lang_id_ctes()}
SELECT doc_id, lang, pred_lang, n_hits FROM lang_pred
""",
    doc=(
        "Stopword-lexicon language ID: per-doc hit counts against each "
        "language's lexicon, argmax (ties → first language alphabetically). "
        "Map-only — the lexicon is compiled into the plan, so there is no "
        "token explode, no shuffle, and no window at any corpus size."
    ),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = toks_documents(spark, sf_dir)
    hits = F.array(
        *[
            F.struct(
                F.size(
                    F.filter(
                        F.col("toks"), lambda w: w.isin(*LANG_LEXICON[lang])
                    )
                ).cast("long").alias("n_hits"),
                F.lit(lang).alias("cand_lang"),
            )
            for lang in sorted(LANG_LEXICON)
        ]
    )
    # argmax by (n_hits DESC, cand_lang ASC) over the 5-element array.
    best = F.get(
        F.array_sort(
            F.filter(hits, lambda h: h["n_hits"] > 0),
            lambda a, b: F.when(a["n_hits"] > b["n_hits"], -1)
            .when(a["n_hits"] < b["n_hits"], 1)
            .when(a["cand_lang"] < b["cand_lang"], -1)
            .when(a["cand_lang"] > b["cand_lang"], 1)
            .otherwise(0),
        ),
        0,
    )
    return (
        docs.select("doc_id", "lang", best.alias("best"))
        .filter(F.col("best").isNotNull())
        .select(
            "doc_id",
            "lang",
            F.col("best.cand_lang").alias("pred_lang"),
            F.col("best.n_hits").alias("n_hits"),
        )
    )


@register(
    "q_text_quality",
    oracle="""
WITH feats AS (
  SELECT doc_id, lang,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_len,
         CAST(length(text) - length(replace(replace(replace(text, '.', ''),
              ',', ''), '!', '')) AS BIGINT) AS n_punct,
         CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
              w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT) AS n_stop
  FROM documents
)
SELECT doc_id, lang, n_tokens, n_punct,
       floor(CAST(n_stop AS DOUBLE) / n_tokens * 1000000) / 1000000
         AS stopword_ratio,
       floor(CAST(n_punct AS DOUBLE) / n_len * 1000000) / 1000000
         AS punct_ratio,
       floor((least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) * 0.5
              + least(CAST(n_stop AS DOUBLE) / n_tokens * 10.0, 1.0) * 0.5)
             * 1000000) / 1000000 AS quality_score
FROM feats
""",
    doc="Quality scoring: length/punct/stopword-ratio features + composite score.",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    stop = list(LANG_LEXICON["en"])
    docs = toks_documents(spark, sf_dir)
    toks = tokens_col()
    toks_col = F.col("toks")
    n_stop = F.size(F.filter(toks_col, lambda w: w.isin(stop))).cast("long")
    n_punct = (
        F.length("text")
        - F.length(
            F.replace(
                F.replace(F.replace(F.col("text"), F.lit("."), F.lit("")), F.lit(","), F.lit("")),
                F.lit("!"),
                F.lit(""),
            )
        )
    ).cast("long")
    feats = docs.select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_len"),
        n_punct.alias("n_punct"),
        n_stop.alias("n_stop"),
    )
    tok_d = F.col("n_tokens").cast("double")
    stop_d = F.col("n_stop").cast("double")
    return feats.select(
        "doc_id",
        "lang",
        "n_tokens",
        "n_punct",
        # floor-truncated, not round(): per-doc count ratios are dyadic
        # when a doc has 2^a*5^b tokens/chars (registry.floor_ratio)
        floor_ratio(stop_d / tok_d, 6).alias("stopword_ratio"),
        # try_divide: an EMPTY text has n_len = 0, and under ANSI mode a
        # plain division throws DIVIDE_BY_ZERO; DuckDB's double division
        # by zero yields NULL, so NULL-on-zero is the cross-engine
        # semantics. n_tokens is never 0 for non-null text (split('')
        # yields one ''-token), so stopword_ratio needs no guard.
        floor_ratio(
            F.try_divide(F.col("n_punct").cast("double"), F.col("n_len")), 6
        ).alias("punct_ratio"),
        floor_ratio(
            F.least(tok_d / 64.0, F.lit(1.0)) * 0.5
            + F.least(stop_d / tok_d * 10.0, F.lit(1.0)) * 0.5,
            6,
        ).alias("quality_score"),
    )


@register(
    "q_doc_fingerprint",
    oracle="""
SELECT doc_id,
       md5(lower(trim(text))) AS content_hash,
       md5(array_to_string(list_sort(list_distinct(
           string_split_regex(trim(lower(text)), '\\s+'))), ' ')) AS tokenset_hash,
       CAST(length(text) AS BIGINT) AS n_len
FROM documents
""",
    doc="Document fingerprints: content hash + order-insensitive token-set hash.",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = toks_documents(spark, sf_dir)
    toks_col = F.col("toks")
    return docs.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col("text")))).alias("content_hash"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks_col)), " ")).alias(
            "tokenset_hash"
        ),
        F.length("text").cast("long").alias("n_len"),
    )


@register(
    "q_tfidf",
    oracle="""
WITH terms AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS n_td FROM terms GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS n_docs_t FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, term, n_td, score FROM (
  SELECT tf.doc_id, tf.term, CAST(tf.n_td AS BIGINT) AS n_td,
         round(tf.n_td * ln(CAST(n.n_docs AS DOUBLE) / df.n_docs_t), 4)
           AS score,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.n_td * ln(CAST(n.n_docs AS DOUBLE) / df.n_docs_t) DESC,
                    tf.term
         ) AS rn
  FROM tf JOIN df USING (term), n
  WHERE tf.doc_id % 20 = 0
) WHERE rn <= 3
""",
    doc=(
        "TF-IDF: top-3 highest-scoring terms per sampled doc. Term "
        "frequencies and document frequencies are corpus-wide aggregates "
        "(two hash aggs, map-side combine); the corpus size joins in as a "
        "broadcast scalar, never a driver collect. The per-doc ranking "
        "window partitions by doc_id — bounded partitions, no global sort. "
        "Ties break on term for cross-engine determinism."
    ),
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = toks_documents(spark, sf_dir)
    terms = docs.select(
        "doc_id",
        F.explode("toks").alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("n_td"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("n_docs_t"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") % 20 == 0)
        .join(df_t, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "raw",
            F.col("n_td")
            * F.log(F.col("n_docs").cast("double") / F.col("n_docs_t")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("raw"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "n_td", F.round("raw", 4).alias("score"))
    )


@register(
    "q_stratified_sample",
    oracle="""
WITH w AS (
  SELECT doc_id, source,
         (coalesce(TRY_CAST(regexp_extract(source, '[0-9]+') AS INTEGER) % 5, 0)
          + 1) / 10.0 AS weight,
         CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
              AS INTEGER) AS BIGINT) AS bucket16
  FROM documents
)
SELECT doc_id, source, round(weight, 1) AS weight, bucket16
FROM w WHERE bucket16 < weight * 65536
""",
    doc=(
        "Stratified corpus mixing: per-source sampling rates applied via "
        "deterministic key-hash thresholds — the data-mixing primitive for "
        "assembling a training corpus from weighted sources. Map-only "
        "(weights are an expression here; in production a broadcast config "
        "dim), reproducible on any engine/run, and resumable: membership "
        "depends only on (doc_id, weight), never on rand() or row order."
    ),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # try_cast + coalesce: a source name with no digit extracts '' and a
    # plain ANSI cast kills the job; such sources take the base weight
    # (digit bucket 0 -> 0.1) on BOTH engines instead.
    weight = (
        F.coalesce(
            F.regexp_extract("source", r"[0-9]+", 0).try_cast("int") % 5, F.lit(0)
        )
        + 1
    ) / 10.0
    bucket16 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    return (
        docs.select(
            "doc_id",
            "source",
            F.round(weight, 1).alias("weight"),
            bucket16.alias("bucket16"),
        )
        .filter(F.col("bucket16") < F.col("weight") * 65536)
    )


@register(
    "q_doc_pack",
    oracle="""
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(cum_before // 4096 AS BIGINT) AS bin,
       CAST(cum_before % 4096 AS BIGINT) AS off
FROM (
  SELECT doc_id, source, n_chars,
         coalesce(sum(n_chars) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM documents
)
""",
    doc=(
        "Sequence packing (concat-then-chunk): per source, documents are "
        "laid out in deterministic doc_id order and assigned to fixed-size "
        "4096-char context bins by prefix sum — the packing step every "
        "pretraining pipeline runs before tokenized shard writing. One "
        "sort shuffle per source partition; the running sum is a window "
        "frame, spillable, never a driver loop."
    ),
)
def q_doc_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_chars").over(w), F.lit(0))
    return docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        # cum < 2^53, so double division then truncating cast equals
        # integer floor-div for these non-negative values
        (cum / 4096).cast("long").alias("bin"),
        (cum % 4096).cast("long").alias("off"),
    )


@register(
    "q_text_repetition",
    oracle="""
WITH base AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
),
bg AS (
  SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct,
         list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS bgs
  FROM base WHERE len(t) >= 2
),
top AS (
  SELECT doc_id, max(c) AS top_c FROM (
    SELECT doc_id, b, count(*) AS c
    FROM (SELECT doc_id, unnest(bgs) AS b FROM bg)
    GROUP BY doc_id, b
  ) GROUP BY doc_id
)
SELECT bg.doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       floor((1.0 - n_distinct / CAST(n_tokens AS DOUBLE)) * 1000000)
         / 1000000 AS dup_token_frac,
       floor((1.0 - len(list_distinct(bgs)) / CAST(len(bgs) AS DOUBLE))
             * 1000000) / 1000000 AS dup_bigram_frac,
       floor(top_c / CAST(len(bgs) AS DOUBLE) * 1000000) / 1000000
         AS top_bigram_frac
FROM bg JOIN top USING (doc_id)
""",
    doc=(
        "Gopher-style repetition signals per document: duplicate-token "
        "fraction, duplicate-bigram fraction, and top-bigram fraction — the "
        "standard filters for boilerplate/degenerate text before "
        "pretraining. Entirely MAP-ONLY: the top bigram's count equals the "
        "longest equal-run in the sorted bigram array, computed with a "
        "per-row aggregate() fold instead of an explode + per-doc groupBy, "
        "so there is no shuffle at any corpus size and cost is linear in "
        "document length."
    ),
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = toks_documents(spark, sf_dir)
    toks = F.col("toks")
    # unigram counts come from ALL documents (oracle's unfiltered base CTE);
    # only bigram extraction needs the >=2-token guard
    d_all = docs.select("doc_id", toks.alias("t"))
    d = d_all.filter(F.size("t") >= 2)
    n = F.size(F.col("t"))
    bigrams = F.zip_with(
        F.slice(F.col("t"), 1, n - 1),
        F.slice(F.col("t"), 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    d = d.select("doc_id", "t", bigrams.alias("bg"))
    # Longest equal-run over the sorted array == the modal bigram's count.
    # A three-field fold keeps it one pass per row, no explode, no shuffle.
    is_same = lambda acc, x: x == acc["prev"]  # noqa: E731
    top_c = F.aggregate(
        F.array_sort(F.col("bg")),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(is_same(acc, x), acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(is_same(acc, x), acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    n_d = n.cast("double")
    nb_d = F.size(F.col("bg")).cast("double")
    return d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        floor_ratio(1.0 - F.size(F.array_distinct(F.col("t"))) / n_d, 6).alias(
            "dup_token_frac"
        ),
        floor_ratio(1.0 - F.size(F.array_distinct(F.col("bg"))) / nb_d, 6).alias(
            "dup_bigram_frac"
        ),
        floor_ratio(top_c / nb_d, 6).alias("top_bigram_frac"),
    )


# Patterns chosen to behave identically under Java regex (Spark) and RE2
# (DuckDB): character classes + bounded quantifiers only, no lookaround.
_EMAIL_RE = r"[a-z0-9]+@[a-z]+\.com"
_PHONE_RE = r"[0-9]{3}-[0-9]{4}"


@register(
    "q_pii_scrub",
    oracle=f"""
WITH aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
              THEN ' contact ' || source || CAST(doc_id AS VARCHAR)
                   || '@example.com'
              ELSE '' END
         || CASE WHEN doc_id % 11 = 0
              THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
           '{_PHONE_RE}', '<PHONE>', 'g')) AS scrub_hash
FROM aug
""",
    doc=(
        "PII detection + redaction: count and scrub email/phone patterns "
        "(injected deterministically so the result is non-trivial on the "
        "synthetic corpus). Map-only regexp_count / regexp_replace — stays "
        "in whole-stage codegen, no shuffle; the training-pipeline "
        "pre-tokenization scrub step."
    ),
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No spread(): this key's plan rule (tools/plan_audit.py) forbids any
    # Exchange. A keyed spread before the regex passes measured 1.96 ->
    # 0.95 s at sf1 (split-bound 1-2 split local scan), but it stays out
    # until the rule can tell a policy-inserted repartition from a shuffle.
    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact "),
                F.col("source"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(aug, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(aug, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(aug, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(scrubbed).alias("scrub_hash"),
    )


# Shared bigram-LM scoring CTEs: q_ngram_lm emits the per-doc scores,
# q_perplexity_buckets consumes them for the head/middle/tail split. One
# SQL definition so the two oracles cannot diverge on the LM estimator.
_LM_SCORE_CTES = """
base AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_slice(t, 1, len(t) - 1)) AS w1,
         unnest(list_slice(t, 2, len(t))) AS w2
  FROM base WHERE len(t) >= 2
),
cab AS (SELECT w1, w2, count(*) AS n_ab FROM bg GROUP BY w1, w2),
ca AS (
  SELECT w, count(*) AS n_a
  FROM (SELECT unnest(t) AS w FROM base) GROUP BY w
),
lm_scored AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         round(avg(ln(n_ab / CAST(n_a AS DOUBLE))), 4) AS avg_logp
  FROM bg
  JOIN cab USING (w1, w2)
  JOIN ca ON ca.w = bg.w1
  WHERE doc_id % 10 = 0
  GROUP BY doc_id
)
"""


@register(
    "q_ngram_lm",
    oracle=f"""
WITH {_LM_SCORE_CTES}
SELECT doc_id, n_bigrams, avg_logp FROM lm_scored
""",
    doc=(
        "Bigram language-model scoring (CCNet-style LM quality filter): "
        "corpus-wide bigram/unigram counts estimate P(w2|w1); each sampled "
        "document is scored by its mean log-probability. Counts are two "
        "hash aggregates with map-side partials; the count joins broadcast "
        "here (closed vocabulary) and degrade gracefully to shuffle hash "
        "joins keyed on the term at open-vocabulary scale — never a "
        "driver-side model."
    ),
    plan=lambda spark, sf_dir: _lm_scored_build(spark, sf_dir),
)
def q_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lm_scored(spark, sf_dir)


# LM scores are read by TWO registered queries (q_ngram_lm emits them,
# q_perplexity_buckets buckets them), so the scored table — KB-sized
# (sampled doc_id, n_bigrams, avg_logp) — materializes once per (session,
# documents vintage) rather than re-running the bigram count + join
# pipeline per consumer.
def _lm_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_substrate(
        spark, sf_dir, "text.lm_scored", "documents",
        lambda: _lm_scored_build(spark, sf_dir),
    )


def _lm_scored_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = toks_documents(spark, sf_dir)
    toks = F.col("toks")
    # unigram counts come from ALL documents (oracle's unfiltered base CTE);
    # only bigram extraction needs the >=2-token guard
    d_all = docs.select("doc_id", toks.alias("t"))
    d = d_all.filter(F.size("t") >= 2)
    n = F.size(F.col("t"))
    pairs = F.zip_with(
        F.slice(F.col("t"), 1, n - 1),
        F.slice(F.col("t"), 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = d.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    cab = bg.groupBy("w1", "w2").agg(F.count("*").alias("n_ab"))
    ca = (
        d_all.select(F.explode(F.col("t")).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("n_a"))
    )
    scored = (
        bg.filter(F.col("doc_id") % 10 == 0)
        .join(F.broadcast(cab), ["w1", "w2"])
        .join(F.broadcast(ca), "w1")
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg(F.log(F.col("n_ab") / F.col("n_a").cast("double"))), 4).alias(
            "avg_logp"
        ),
    )


@register(
    "q_term_pmi",
    oracle="""
WITH docs_n AS (SELECT count(*) AS n_docs FROM documents),
toks AS (
  SELECT doc_id, unnest(list_distinct(
           string_split_regex(trim(lower(text)), '\\s+'))) AS t
  FROM documents
),
tc AS (SELECT t, count(*) AS n_t FROM toks GROUP BY t),
pairs AS (
  SELECT a.t AS term_a, b.t AS term_b, count(*) AS n_ab
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.t < b.t
  GROUP BY a.t, b.t
)
SELECT term_a, term_b, CAST(n_ab AS BIGINT) AS n_ab, pmi FROM (
  SELECT p.term_a, p.term_b, p.n_ab,
         round(ln(p.n_ab * CAST(n.n_docs AS DOUBLE) / (x.n_t * y.n_t)), 4)
           AS pmi,
         row_number() OVER (
           ORDER BY ln(p.n_ab * CAST(n.n_docs AS DOUBLE) / (x.n_t * y.n_t))
                    DESC, p.term_a, p.term_b) AS rn
  FROM pairs p
  JOIN tc x ON x.t = p.term_a
  JOIN tc y ON y.t = p.term_b, docs_n n
  WHERE p.n_ab >= 5
) WHERE rn <= 20
""",
    doc=(
        "Pointwise mutual information over within-document term pairs: "
        "pair expansion is JOIN-FREE — each doc's sorted distinct token "
        "array expands to its i<j pairs in a per-row transform (the LSH "
        "bucket-pairing pattern), so co-occurrence counting is one hash "
        "aggregate, never a toks-self-join. Term and corpus counts join "
        "back as broadcasts. At open-vocabulary scale the expansion is "
        "bounded by pruning to a top-K vocabulary first; here the corpus "
        "vocabulary is already tiny. Global top-20 via "
        "TakeOrderedAndProject with full tie-breaks."
    ),
)
def q_term_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = toks_documents(spark, sf_dir)
    toks = F.array_sort(
        F.array_distinct(F.col("toks"))
    )
    m = F.col("m")
    pair_arr = F.flatten(
        F.transform(
            m,
            lambda x, i: F.transform(
                F.slice(m, i + 2, F.size(m)),
                lambda y: F.struct(x.alias("term_a"), y.alias("term_b")),
            ),
        )
    )
    pairs = (
        docs.select(toks.alias("m"))
        .select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.term_a").alias("term_a"), F.col("p.term_b").alias("term_b"))
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    tc = (
        docs.select(F.explode(toks).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("n_t"))
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    raw_pmi = F.log(
        F.col("n_ab") * F.col("n_docs").cast("double") / (F.col("x_n") * F.col("y_n"))
    )
    scored = (
        pairs.join(
            F.broadcast(tc.select(F.col("t").alias("term_a"), F.col("n_t").alias("x_n"))),
            "term_a",
        )
        .join(
            F.broadcast(tc.select(F.col("t").alias("term_b"), F.col("n_t").alias("y_n"))),
            "term_b",
        )
        .crossJoin(F.broadcast(n))
        .select("term_a", "term_b", "n_ab", raw_pmi.alias("raw"))
    )
    return (
        scored.orderBy(F.desc("raw"), F.asc("term_a"), F.asc("term_b"))
        .limit(20)
        .select("term_a", "term_b", "n_ab", F.round("raw", 4).alias("pmi"))
    )


# GPT-2-ish pre-tokenizer shape: letter runs, digit runs, single
# non-alphanumeric marks. Same pattern string compiles identically under
# Java regex (Spark) and RE2 (DuckDB) — plain character classes only.
_BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@register(
    "q_token_bpe",
    oracle=f"""
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(toks, t -> regexp_matches(t, '^[A-Za-z]')))
            AS BIGINT) AS n_word,
       CAST(len(list_filter(toks, t -> regexp_matches(t, '^[0-9]')))
            AS BIGINT) AS n_num,
       CAST(len(toks)
            - len(list_filter(toks, t -> regexp_matches(t, '^[A-Za-z0-9]')))
            AS BIGINT) AS n_mark,
       round(CAST(n_chars AS DOUBLE) / nullif(len(toks), 0), 4)
         AS chars_per_token
FROM (
  SELECT doc_id, n_chars,
         regexp_extract_all(text, '{_BPE_PATTERN}') AS toks
  FROM documents
)
""",
    doc=(
        "BPE-style regex pre-tokenization (letter runs / digit runs / "
        "single punctuation marks — the GPT-2 pre-tokenizer shape) with "
        "per-document token-class counts and a chars-per-token compression "
        "proxy. Map-only: the regex scan, the class counts, and the ratio "
        "all run inside whole-stage codegen with zero shuffles — the form "
        "a tokenizer-budget estimate takes over a 100 TB corpus."
    ),
)
def q_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: count token classes with regexp_count instead of materializing
    # the token array and filtering it with interpreted HOF rlike lambdas.
    # The r11-shape plan's final projection (3 × size(filter(toks,
    # rlike))) fell out of whole-stage codegen entirely (HOFs never
    # codegen) and re-ran a fresh Java regex matcher per token per class —
    # 4.17 s at sf1. The identities are exact, not approximations: every
    # _BPE_PATTERN token starts with a letter (iff it is a maximal
    # [A-Za-z]+ run), a digit (iff a maximal [0-9]+ run), or is a single
    # mark, so class counts equal maximal-run/match counts —
    #   n_word   = regexp_count(text, '[A-Za-z]+')
    #   n_num    = regexp_count(text, '[0-9]+')
    #   n_mark   = regexp_count(text, '[^A-Za-z0-9\\s]')   (1 char = 1 token)
    #   n_tokens = n_word + n_num + n_mark   (the classes partition toks)
    # all codegen'd with the pattern compiled once per task (guide §4.1:
    # prefer built-ins; §1.2: don't build what you throw away — the array
    # was consumed only by size()), and the expensive 3-way-alternation
    # pass disappears entirely. Oracle unchanged (same values).
    # NO spread(): measured at sf1 — repartitioning the raw text bytes to
    # all cores costs as much as it parallelizes (2.82 s vs 2.98 s, inside
    # noise) because the exchange carries the full 125 MB corpus, and at
    # sf0.1 it regresses 1.28× (the driver's bench SF). The scan-split
    # ceiling is the single-row-group layout of the local fixtures, not
    # the plan; a real corpus splits at row-group granularity.
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "n_chars",
        F.regexp_count("text", F.lit("[A-Za-z]+")).alias("n_word_raw"),
        F.regexp_count("text", F.lit("[0-9]+")).alias("n_num_raw"),
        F.regexp_count("text", F.lit(r"[^A-Za-z0-9\s]")).alias("n_mark_raw"),
    )
    d = d.withColumn(
        "n_tokens_raw",
        F.col("n_word_raw") + F.col("n_num_raw") + F.col("n_mark_raw"),
    )
    return d.select(
        "doc_id",
        F.col("n_tokens_raw").cast("long").alias("n_tokens"),
        F.col("n_word_raw").cast("long").alias("n_word"),
        F.col("n_num_raw").cast("long").alias("n_num"),
        F.col("n_mark_raw").cast("long").alias("n_mark"),
        F.round(
            F.col("n_chars").cast("double")
            / F.nullif(F.col("n_tokens_raw").cast("double"), F.lit(0.0)),
            4,
        ).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# BPE merge TRAINING (q_bpe_train): the step q_token_bpe (pre-tokenize) and
# q_vocab (word counting) stop short of — learning the merge table itself.

_BPE_TRAIN_ROUNDS = 8
# clean lowercase words only: merged symbols are plain concatenations, so the
# alphabet must be unambiguous (no whitespace/regex metacharacters inside a
# symbol); plain character classes compile identically under Java regex
# (Spark) and RE2 (DuckDB)
_BPE_WORD_RE = "^[a-z]{2,12}$"

# greedy left-to-right merge of ONE pair (a, b) -> a||b over a symbol array,
# as a single map-side fold (SQL aggregate() lambda): the accumulator carries
# (emitted symbols, one pending symbol); a pending `a` followed by `b` flushes
# the merged token and clears the carry, so the merged token can never be the
# left side of another merge in the same round — exactly the reference BPE
# (Sennrich) left-to-right non-overlapping semantics ("l l l" merges once).
# {a}/{b} are filled with SQL string literals of the round's learned pair —
# model parameters, like k-means centroid constants — so the chain of round
# folds is a LINEAR map-only plan (a column/broadcast reference to the best
# pair would make each round's plan reference the previous round twice:
# fold input + argmax input, re-expanding the dict agg 2^rounds times).
_BPE_FOLD_SQL = (
    "aggregate(syms, "
    "named_struct('out', CAST(array() AS ARRAY<STRING>), "
    "'carry', CAST(NULL AS STRING)), "
    "(acc, s) -> IF(acc.carry = {a} AND s = {b}, "
    "named_struct('out', concat(acc.out, array(concat({a}, {b}))), "
    "'carry', CAST(NULL AS STRING)), "
    "named_struct('out', IF(acc.carry IS NULL, acc.out, "
    "concat(acc.out, array(acc.carry))), 'carry', s)), "
    "acc -> IF(acc.carry IS NULL, acc.out, concat(acc.out, array(acc.carry)))"
    ") AS syms"
)


def _sql_str_lit(v: str) -> str:
    """Single-quoted SQL literal; symbols are [a-z<>/w] by construction
    (word filter + '</w>'), but escape quotes anyway so a future alphabet
    change cannot inject."""
    return "'" + v.replace("'", "''") + "'"

# adjacent symbol pairs of one sequence, counted with the word's frequency —
# overlapping pairs all count ("lll" contributes (l,l) twice), matching the
# reference get_stats
_BPE_PAIRS_SQL = (
    "explode(transform(sequence(1, size(syms) - 1), "
    "i -> named_struct('a', element_at(syms, i), "
    "'b', element_at(syms, i + 1)))) AS p"
)


def _bpe_seqs0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w, cnt, syms): the aggregated word-frequency dict, each word split
    into characters plus the '</w>' end marker — BPE trains on THIS
    vocab-bounded table, never the corpus (the production shape: at
    100 TB the word dict is a few million rows regardless of corpus
    size, and every training round below touches only it). The dict is a
    session substrate: q_bpe_train and q_bpe_encode both start from it,
    and it is the only corpus-touching stage either query has."""

    def _build() -> DataFrame:
        words = (
            toks_documents(spark, sf_dir)
            .select(F.explode("toks").alias("w"))
            .filter(F.col("w").rlike(_BPE_WORD_RE))
            .groupBy("w")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        return words.selectExpr(
            "w",
            "cnt",
            "concat(transform(sequence(1, length(w)), "
            "i -> substring(w, i, 1)), array('</w>')) AS syms",
        )

    return session_substrate(
        spark, sf_dir, "bpe-seqs0", "documents", _build
    )


def _bpe_round_pairs(seqs: DataFrame) -> DataFrame:
    """One round's pair-count aggregate: the ONLY shuffle per round, and
    its key space is bounded by the live symbol alphabet squared — not by
    vocab, not by corpus."""
    return (
        seqs.selectExpr("cnt", _BPE_PAIRS_SQL)
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("cnt").cast("long").alias("c"))
    )


_BPE_ROUND_TPL = """
ex{r} AS MATERIALIZED (
  SELECT w, cnt, unnest(syms) AS sym,
         unnest(range(1, len(syms) + 1)) AS pos
  FROM seqs{p}
),
agg{r} AS MATERIALIZED (
  SELECT a, b, CAST(sum(cnt) AS BIGINT) AS c FROM (
    SELECT e.sym AS a,
           lead(e.sym) OVER (PARTITION BY e.w ORDER BY e.pos) AS b, e.cnt
    FROM ex{r} e)
  WHERE b IS NOT NULL GROUP BY a, b
),
best{r} AS MATERIALIZED (
  SELECT a, b, c FROM agg{r} ORDER BY c DESC, a, b LIMIT 1
),
m{r} AS MATERIALIZED (
  SELECT e.w, e.cnt, e.pos, e.sym,
         lead(e.sym) OVER (PARTITION BY e.w ORDER BY e.pos) AS nxt,
         (e.sym = b.a AND
          lead(e.sym) OVER (PARTITION BY e.w ORDER BY e.pos) = b.b) AS hit
  FROM ex{r} e CROSS JOIN best{r} b
),
sel{r} AS MATERIALIZED (
  SELECT w, pos FROM (
    SELECT w, pos,
           row_number() OVER (PARTITION BY w, grp ORDER BY pos) AS rk
    FROM (SELECT w, pos,
                 pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS grp
          FROM m{r} WHERE hit))
  WHERE rk % 2 = 1
),
seqs{r} AS MATERIALIZED (
  SELECT m.w, any_value(m.cnt) AS cnt,
         list(CASE WHEN s.pos IS NOT NULL THEN m.sym || m.nxt
                   ELSE m.sym END ORDER BY m.pos) AS syms
  FROM m{r} m
  LEFT JOIN sel{r} s ON s.w = m.w AND s.pos = m.pos
  LEFT JOIN sel{r} s2 ON s2.w = m.w AND s2.pos = m.pos - 1
  WHERE s2.pos IS NULL
  GROUP BY m.w
)"""


def _bpe_train_sql(rounds: int) -> str:
    """DuckDB oracle: the SAME bounded merge sequence as chained CTEs.

    Each round re-derives pair counts, picks argmax((count desc, a, b)),
    and applies the greedy merge via unnest + lead() + run-parity
    selection (within a run of consecutive matches, the 1st/3rd/5th...
    merge — identical to the fold's left-to-right semantics; verified
    against a reference Python BPE on adversarial overlap cases). Every
    per-round CTE is MATERIALIZED: DuckDB inlines CTEs by default, and
    an 8-deep chain with 2 consumers per level would re-expand seqs0
    into ~2^8 parquet scans (observed: fd exhaustion).
    """
    round_tpl = _BPE_ROUND_TPL
    rounds_sql = ",".join(
        round_tpl.format(r=i, p=i - 1) for i in range(1, rounds + 1)
    )
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT) AS step, a AS left_sym, b AS right_sym,"
        f" c AS pair_count FROM best{i}"
        for i in range(1, rounds + 1)
    )
    return f"""
WITH {_bpe_ctes(rounds)}
{union}
ORDER BY step
"""


def _bpe_ctes(rounds: int) -> str:
    """The shared training CTE chain (word dict -> seqs0 -> rounds 1..N):
    q_bpe_train selects the per-round argmax rows from it; q_bpe_encode
    reads the FINAL seqs{N} as the learned word->tokenization table."""
    round_tpl = _BPE_ROUND_TPL
    rounds_sql = ",".join(
        round_tpl.format(r=i, p=i - 1) for i in range(1, rounds + 1)
    )
    return f"""wd AS (
  SELECT term AS w, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
        FROM documents)
  WHERE regexp_matches(term, '{_BPE_WORD_RE}')
  GROUP BY term
),
seqs0 AS MATERIALIZED (
  SELECT w, cnt,
         list_transform(range(1, length(w) + 1), i -> substring(w, i, 1))
           || ['</w>'] AS syms
  FROM wd
),{rounds_sql}"""


@register(
    "q_bpe_train",
    oracle=_bpe_train_sql(_BPE_TRAIN_ROUNDS),
    doc=(
        "BPE merge-table TRAINING, {n} rounds — the learning step the "
        "tokenizer stack (q_token_bpe pre-tokenize, q_vocab counting) "
        "feeds: per round, count adjacent symbol pairs over the word-"
        "frequency dict weighted by word count, pick argmax with the "
        "deterministic (count desc, left, right) tie-break, and apply the "
        "greedy left-to-right merge to every sequence (reference BPE "
        "semantics, Sennrich get_stats/merge — overlapping pairs both "
        "count, a merged token never chains in-round). Iterative "
        "static-DAG pattern (k-means/PageRank, ml.py): each round is ONE "
        "pair hash agg (map-side combined; key space = live alphabet "
        "squared, independent of corpus AND vocab size) + TakeOrdered(1), "
        "with exactly the 1-row learned pair coming to the driver as a "
        "model parameter (k-means-convergence-scalar class; data rows "
        "never collect) and re-entering as fold literals — the round "
        "chain is then a LINEAR map-only aggregate()-fold plan over the "
        "once-materialized dict (reliable-checkpoint-portable), no "
        "explode-rebuild shuffle, no per-round re-materialization. "
        "Scale-adaptive like connected components (dedup.py): a dict "
        "under 20k words trains driver-side from ONE collect instead of "
        "paying rounds x job-floor, property-tested equal to the "
        "distributed path. "
        "Trains on the AGGREGATED word dict, the production shape: at "
        "100 TB the dict is vocab-bounded (millions of rows) so rounds "
        "cost the same at any corpus size; only the one dict-building "
        "agg sees the corpus. "
        "Oracle: the identical bounded merge sequence as {n} chained "
        "DuckDB CTE rounds (unnest + lead + run-parity greedy selection), "
        "cross-checked against a reference Python BPE on overlap-"
        "adversarial fixtures (tests)."
    ).format(n=_BPE_TRAIN_ROUNDS),
    plan=lambda spark, sf_dir: _bpe_round_pairs(_bpe_seqs0(spark, sf_dir)),
)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_train_loop(_bpe_seqs0(spark, sf_dir), _BPE_TRAIN_ROUNDS)


# learned merge pairs, stored per (session, sf_dir, documents vintage):
# q_bpe_train emits them as a result; q_bpe_encode re-derives them as a
# MODEL to apply. The list is `rounds` tuples of short strings — a model
# parameter pack, same class as a broadcast centroid table.
def _bpe_merges(spark: SparkSession, sf_dir: str) -> list[tuple[str, str]]:
    def build() -> list[tuple[str, str]]:
        rows = bpe_train_loop(
            _bpe_seqs0(spark, sf_dir), _BPE_TRAIN_ROUNDS
        ).collect()
        return [(r["left_sym"], r["right_sym"]) for r in rows]

    return session_cached(spark, sf_dir, "bpe-merges", "documents", build)


@register(
    "q_bpe_encode",
    oracle=f"""
WITH {{ctes}},
final AS (
  SELECT w, CAST(len(syms) AS BIGINT) AS n_tok,
         CAST(length(w) AS BIGINT) AS n_chr
  FROM seqs{{n}}
),
words AS (
  SELECT d.doc_id, d.source,
         unnest(string_split_regex(trim(lower(d.text)), '\\s+')) AS w
  FROM documents d
),
enc AS (
  SELECT wo.doc_id, wo.source, f.n_tok, f.n_chr
  FROM words wo JOIN final f ON f.w = wo.w
)
SELECT source,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       floor(CAST(sum(n_tok) AS DOUBLE) / count(*) * 1000000) / 1000000
         AS tokens_per_word,
       floor(CAST(sum(n_chr) AS DOUBLE) / sum(n_tok) * 1000000) / 1000000
         AS chars_per_token
FROM enc GROUP BY source ORDER BY source
""".format(ctes=_bpe_ctes(_BPE_TRAIN_ROUNDS), n=_BPE_TRAIN_ROUNDS),
    doc=(
        "BPE ENCODING pass — apply the merge table q_bpe_train learns "
        "back to the corpus and report per-source compression: token "
        "count per word under the learned merges (the '</w>' marker "
        "counts as a symbol, possibly fused — standard word-end "
        "convention), tokens/word, and chars/token, the numbers a "
        "tokenizer-budget decision actually consumes. Spark plan: the "
        "learned pairs are a model-parameter pack (rounds x 2 short "
        "strings, cached per session/vintage) applied as literal "
        "aggregate() folds to the vocab-bounded word dict — encoding a "
        "word costs O(rounds x len), runs ONCE PER DISTINCT WORD, never "
        "per occurrence — then the (word -> n_tok) table broadcast-joins "
        "the exploded corpus (at 100 TB: a few-million-row broadcast, or "
        "a shuffle join on w; either way the corpus is touched once) "
        "into one source-bounded agg. Exactness: token/char counts are "
        "BIGINTs; the two ratios are single identically-written "
        "divisions. Oracle: reads the final seqs{n} of the SAME shared "
        "training CTE chain as q_bpe_train, joined to the re-exploded "
        "corpus — training and encoding verified end-to-end in one "
        "statement.".format(n=_BPE_TRAIN_ROUNDS)
    ),
    plan=lambda spark, sf_dir: _bpe_encode_report(spark, sf_dir),
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bpe_encode_report(spark, sf_dir)


def _bpe_encode_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    seqs = _bpe_seqs0(spark, sf_dir)
    for a, b in _bpe_merges(spark, sf_dir):
        seqs = seqs.selectExpr(
            "w", "cnt", _BPE_FOLD_SQL.format(a=_sql_str_lit(a), b=_sql_str_lit(b))
        )
    word_tok = seqs.select(
        "w",
        F.size("syms").cast("long").alias("n_tok"),
        F.length("w").cast("long").alias("n_chr"),
    )
    words = (
        toks_documents(spark, sf_dir)
        .select("doc_id", "source", F.explode("toks").alias("w"))
        .filter(F.col("w").rlike(_BPE_WORD_RE))
    )
    enc = words.join(F.broadcast(word_tok), "w")
    return (
        enc.groupBy("source")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            floor_ratio(
                F.sum("n_tok").cast("double") / F.count("*"), 6
            ).alias("tokens_per_word"),
            floor_ratio(
                F.sum("n_chr").cast("double") / F.sum("n_tok"), 6
            ).alias("chars_per_token"),
        )
        .orderBy("source")
    )


# scale-adaptive bound, the connected-components _LOCAL_CC_MAX_EDGES idiom
# (dedup.py): BPE's training input is the AGGREGATED word dict, known-small
# after one count — below this many distinct words the merge rounds run as a
# driver-side fold over the collected dict (one collect, zero per-round
# jobs; a tiny dict trained distributively costs rounds x ~0.25 s of pure
# job-scheduling floor — measured 2.9 s for 8 rounds over 30 words), above
# it the distributed per-round agg loop runs (each round touches only the
# vocab-bounded dict, never the corpus).
_LOCAL_BPE_MAX_WORDS = 20_000


def _bpe_local(rows: list, rounds: int) -> list[tuple[int, str, str, int]]:
    """Driver-side merge training over collected (cnt, syms) rows — the
    exact same (count desc, left, right) argmax and greedy left-to-right
    merge semantics as the distributed loop (property-tested equal)."""
    from collections import Counter

    seqs = [[int(r["cnt"]), list(r["syms"])] for r in rows]
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, rounds + 1):
        pairs: Counter = Counter()
        for cnt, syms in seqs:
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += cnt
        if not pairs:
            break
        (a, b), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, a, b, int(c)))
        for row in seqs:
            syms = row[1]
            ns, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    ns.append(a + b)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            row[1] = ns
    return merges


def bpe_train_loop(
    seqs: DataFrame, rounds: int, local_max_words: int = _LOCAL_BPE_MAX_WORDS
) -> DataFrame:
    """The training loop over any (cnt, syms) dict — separated so tests
    can drive it with overlap-adversarial synthetic fixtures.

    Job structure: the dict materializes ONCE (the only corpus-touching
    work). Small dicts (<= local_max_words) then train driver-side from
    one collect — the CC union-find idiom. Large dicts run the
    distributed loop: each round is one tiny job — the distributed
    pair-count agg + TakeOrdered(1) — bringing exactly ONE row to the
    driver: the learned merge pair, a model parameter (the same
    control-plane class as k-means' convergence scalar or CC's
    changed-count; data rows never collect). The pair embeds as literals
    in the next round's fold, so the round chain is a LINEAR map-only
    plan over the materialized dict — no per-round re-materialization,
    and at 100 TB each round costs one vocab-bounded agg whatever the
    corpus size.
    """
    spark = seqs.sparkSession
    out_schema = "step long, left_sym string, right_sym string, pair_count long"
    cur = materialize(seqs, eager=False)
    if cur.count() <= local_max_words:
        merges = _bpe_local(cur.select("cnt", "syms").collect(), rounds)
        return spark.createDataFrame(merges, out_schema).orderBy("step")
    merges = []
    for step in range(1, rounds + 1):
        top = (
            _bpe_round_pairs(cur)
            .orderBy(F.desc("c"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:  # every word fully merged to one symbol
            break
        a, b, c = top[0]["a"], top[0]["b"], int(top[0]["c"])
        merges.append((step, a, b, c))
        cur = cur.selectExpr(
            "cnt", _BPE_FOLD_SQL.format(a=_sql_str_lit(a), b=_sql_str_lit(b))
        )
    return spark.createDataFrame(merges, out_schema).orderBy("step")


@register(
    "q_shard_layout",
    oracle="""
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT)
         AS pos
FROM (
  SELECT doc_id,
         CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)
                   AS BIGINT) % 32 AS BIGINT) AS shard
  FROM documents
)
""",
    doc=(
        "Deterministic output-shard layout for tokenized-corpus writing: "
        "each document hashes (md5, engine-portable) into one of 32 shards "
        "and receives its within-shard position. This is the write-side "
        "twin of stratified sampling — the layout every shard-writer needs "
        "before `partitionBy(shard)` so re-runs and engines agree byte-for-"
        "byte on file contents. One shuffle on the shard key; position is "
        "a per-shard window, never a global sort. Shard count is the "
        "scale knob — each shard sorts in one task, so at corpus scale "
        "the modulus rises until corpus/shards fits a task (10k+ shards "
        "at 100 TB); the plan shape is unchanged."
    ),
)
def q_shard_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long")
        % 32
    )
    w = Window.partitionBy("shard").orderBy("doc_id")
    return (
        docs.select("doc_id", shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
    )


@register(
    "q_corpus_curation",
    oracle="""
WITH scored AS (
  SELECT doc_id, text, n_chars,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         md5(lower(trim(text))) AS content_hash
  FROM documents
),
quality AS (
  SELECT * FROM scored
  WHERE n_tokens >= 10
    AND CAST(n_chars AS DOUBLE) / n_tokens <= 12.0
),
deduped AS (
  SELECT * FROM (
    SELECT doc_id, n_tokens, content_hash,
           min(doc_id) OVER (PARTITION BY content_hash) AS canonical_id
    FROM quality
  ) WHERE doc_id = canonical_id
),
sampled AS (
  SELECT doc_id, n_tokens FROM deduped
  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
        % 100 < 80
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(CAST('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 6)
                 AS BIGINT) % 16 AS BIGINT) AS shard,
       CAST(row_number() OVER (
              PARTITION BY CAST('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 6)
                                AS BIGINT) % 16
              ORDER BY doc_id) AS BIGINT) AS pos
FROM sampled
""",
    doc=(
        "End-to-end corpus curation as ONE declarative plan — the composed "
        "form of the pipeline every pretraining run executes: quality gate "
        "(token count + chars-per-token) → exact dedup keeping the "
        "canonical (min-id) copy → deterministic 80% hash sample → 16-way "
        "shard assignment with within-shard positions. Exactly two "
        "shuffles survive composition (the dedup-hash window and the shard "
        "window); the quality gate and the sampling predicate are map-only "
        "and run against the scan, so rejected documents are dropped "
        "before either shuffle. This is the argument for declaring "
        "pipelines as plans instead of running stages to disk: Catalyst "
        "fuses the stages and the corpus crosses the network twice, not "
        "five times."
    ),
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Measured and rejected (r12): spread before the tokenize/md5
    # projection — 1.15× at sf1 AND 2.64× at sf0.1 (the dedup/shard
    # windows shuffle right after, so the extra exchange only adds
    # waves). Left on the raw scan.
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "n_chars",
        F.size(tokens_col()).alias("n_tokens"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("content_hash"),
    )
    quality = scored.filter(
        (F.col("n_tokens") >= 10)
        & (F.col("n_chars").cast("double") / F.col("n_tokens") <= 12.0)
    )
    w_dedup = Window.partitionBy("content_hash")
    deduped = (
        quality.withColumn("canonical_id", F.min("doc_id").over(w_dedup))
        .filter(F.col("doc_id") == F.col("canonical_id"))
    )
    sample_bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long")
        % 100
    )
    sampled = deduped.filter(sample_bucket < 80)
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("shard"), F.col("doc_id").cast("string"))), 1, 6
            ),
            16,
            10,
        ).cast("long")
        % 16
    )
    w_shard = Window.partitionBy("shard").orderBy("doc_id")
    return (
        sampled.select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"))
        .withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w_shard).cast("long"))
    )


@register(
    "q_source_overlap",
    oracle="""
WITH hashed AS (
  SELECT DISTINCT source,
         md5(array_to_string(list_sort(list_distinct(
             string_split_regex(trim(lower(text)), '\\s+'))), ' ')) AS h
  FROM documents
),
pairs AS (
  SELECT a.h, a.source AS source_a, b.source AS source_b
  FROM hashed a JOIN hashed b ON a.h = b.h AND a.source < b.source
)
SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_shared_docs
FROM pairs GROUP BY source_a, source_b
""",
    doc=(
        "Cross-source duplicate-overlap matrix: for every source pair, "
        "how many token-set-identical documents they share — the "
        "provenance question (which feeds mirror each other?) asked "
        "before weighting sources in a corpus mix. The token-set hash "
        "catches reordered mirrors that byte-exact hashing misses (this "
        "corpus has zero byte-exact cross-source copies but 171 "
        "token-set mirrors at sf0.01). Hashes join, never text; the "
        "per-(hash, source) DISTINCT collapses each source's internal "
        "copies first so the matrix counts cross-source overlap only. "
        "Output is sources², constant in corpus size."
    ),
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = toks_documents(spark, sf_dir)
    hashed = docs.select(
        "source",
        F.md5(F.array_join(F.array_sort(F.array_distinct(F.col("toks"))), " ")).alias(
            "h"
        ),
    ).distinct()
    a = hashed.alias("a")
    b = hashed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count("*").alias("n_shared_docs"))
    )


@register(
    "q_curation_funnel",
    oracle="""
WITH scored AS (
  SELECT doc_id, n_chars,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         md5(lower(trim(text))) AS content_hash
  FROM documents
),
flags AS (
  SELECT doc_id, content_hash,
         n_tokens >= 10 AND CAST(n_chars AS DOUBLE) / n_tokens <= 12.0
           AS q_pass
  FROM scored
),
dedup AS (
  SELECT doc_id, q_pass,
         q_pass AND doc_id = min(CASE WHEN q_pass THEN doc_id END)
                      OVER (PARTITION BY content_hash) AS d_pass
  FROM flags
),
final AS (
  SELECT doc_id, q_pass, d_pass,
         d_pass AND CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)
                         AS BIGINT) % 100 < 80 AS s_pass
  FROM dedup
)
SELECT CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN q_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(sum(CASE WHEN d_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_deduped,
       CAST(sum(CASE WHEN s_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM final
""",
    doc=(
        "Curation funnel report — per-stage survivor counts for the "
        "q_corpus_curation pipeline (total → quality gate → canonical "
        "dedup → hash sample): the observability query a pipeline owner "
        "reads before shipping a corpus, answering WHERE documents were "
        "lost. All stages evaluate as flags in one pass over the scan "
        "plus the one dedup-hash window the pipeline itself needs; the "
        "funnel costs one extra 4-counter aggregation, not four extra "
        "pipeline runs."
    ),
)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "n_chars",
        F.size(tokens_col()).alias("n_tokens"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("content_hash"),
    )
    q_pass = (F.col("n_tokens") >= 10) & (
        F.col("n_chars").cast("double") / F.col("n_tokens") <= 12.0
    )
    flags = scored.select("doc_id", "content_hash", q_pass.alias("q_pass"))
    w = Window.partitionBy("content_hash")
    d_pass = F.col("q_pass") & (
        F.col("doc_id")
        == F.min(F.when(F.col("q_pass"), F.col("doc_id"))).over(w)
    )
    sample_bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long")
        % 100
    )
    final = flags.select(
        "q_pass",
        d_pass.alias("d_pass"),
        (d_pass & (sample_bucket < 80)).alias("s_pass"),
    )
    return final.agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(F.col("q_pass"), 1).otherwise(0)).cast("long").alias("n_quality"),
        F.sum(F.when(F.col("d_pass"), 1).otherwise(0)).cast("long").alias("n_deduped"),
        F.sum(F.when(F.col("s_pass"), 1).otherwise(0)).cast("long").alias("n_sampled"),
    )


# -- Z-order layout (multi-dimensional data skipping) ------------------------

_Z_BITS = 4  # 4 bits per dimension -> 256 z-values -> 16 z-contiguous shards
_Z_SHARDS = 16


def _bits_interleave(pb, sb):
    """Interleave the low _Z_BITS of two bucket columns into a z-value.

    Pure integer arithmetic (floor-div / mod / multiply) so the identical
    expression runs on Spark and DuckDB — no engine bit intrinsics.
    """
    z = F.lit(0)
    for i in range(_Z_BITS):
        pbit = F.floor(pb / (2 ** i)) % 2
        sbit = F.floor(sb / (2 ** i)) % 2
        z = z + pbit * (2 ** (2 * i)) + sbit * (2 ** (2 * i + 1))
    return z


def _zsql_bits(col: str) -> str:
    return " + ".join(
        f"(CAST(floor({col} / {2 ** i}) AS BIGINT) % 2) * {2 ** (2 * i)}"
        for i in range(_Z_BITS)
    )


def _zsql_bits_odd(col: str) -> str:
    return " + ".join(
        f"(CAST(floor({col} / {2 ** i}) AS BIGINT) % 2) * {2 ** (2 * i + 1)}"
        for i in range(_Z_BITS)
    )


@register(
    "q_zorder_layout",
    oracle=f"""
WITH ranges AS (
  SELECT CAST(max(l_partkey) AS DOUBLE) + 1 AS pmax,
         CAST(max(l_suppkey) AS DOUBLE) + 1 AS smax
  FROM lineitem
),
bucketed AS (
  SELECT l.l_partkey, l.l_suppkey,
         CAST(floor(l.l_partkey * {2 ** _Z_BITS} / r.pmax) AS BIGINT) AS pb,
         CAST(floor(l.l_suppkey * {2 ** _Z_BITS} / r.smax) AS BIGINT) AS sb
  FROM lineitem l CROSS JOIN ranges r
),
zed AS (
  SELECT l_partkey, l_suppkey,
         ({_zsql_bits("pb")}) + ({_zsql_bits_odd("sb")}) AS z
  FROM bucketed
),
sharded AS (
  SELECT l_partkey, l_suppkey,
         CAST(floor(z * {_Z_SHARDS} / {4 ** _Z_BITS}) AS BIGINT) AS shard
  FROM zed
)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(l_partkey) AS BIGINT) AS min_part,
       CAST(max(l_partkey) AS BIGINT) AS max_part,
       CAST(min(l_suppkey) AS BIGINT) AS min_supp,
       CAST(max(l_suppkey) AS BIGINT) AS max_supp
FROM sharded
GROUP BY shard
""",
    doc=(
        "Z-order layout audit: interleave 4+4 bits of the (partkey, "
        "suppkey) range buckets into a z-value, assign rows to "
        f"{_Z_SHARDS} z-contiguous shards, and report each shard's "
        "per-dimension min/max envelope — the statistics a reader uses "
        "for data skipping. Unlike single-key sort (q_shard_layout), "
        "the z-curve keeps BOTH dimensions' envelopes tight, so "
        "predicates on either column prune shards (the Delta/Iceberg "
        "OPTIMIZE ZORDER lever, built from pure relational arithmetic "
        "— portable to the oracle engine bit-for-bit). The (pmax, "
        "smax) range pack is ONE broadcast row (whitelisted scalar "
        "cross join); bucketing and interleaving are map-only; the "
        "only exchange is the 16-group envelope aggregate."
    ),
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    ranges = li.agg(
        (F.max("l_partkey").cast("double") + 1).alias("pmax"),
        (F.max("l_suppkey").cast("double") + 1).alias("smax"),
    )
    nb = 2 ** _Z_BITS
    bucketed = li.crossJoin(F.broadcast(ranges)).select(
        "l_partkey",
        "l_suppkey",
        F.floor(F.col("l_partkey") * nb / F.col("pmax")).alias("pb"),
        F.floor(F.col("l_suppkey") * nb / F.col("smax")).alias("sb"),
    )
    zed = bucketed.withColumn(
        "z", _bits_interleave(F.col("pb"), F.col("sb"))
    ).withColumn("shard", F.floor(F.col("z") * _Z_SHARDS / (4 ** _Z_BITS)))
    return zed.groupBy("shard").agg(
        F.count("*").alias("n_rows"),
        F.min("l_partkey").alias("min_part"),
        F.max("l_partkey").alias("max_part"),
        F.min("l_suppkey").alias("min_supp"),
        F.max("l_suppkey").alias("max_supp"),
    )


# -- inverted index (search posting lists) -----------------------------------

_IDX_MAX_POSTINGS = 20


@register(
    "q_inverted_index",
    oracle=f"""
WITH toks AS (
  SELECT DISTINCT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents
),
posting AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df,
         list_slice(list_sort(array_agg(doc_id)), 1, {_IDX_MAX_POSTINGS})
           AS postings
  FROM toks GROUP BY term
)
SELECT term, df, array_to_string(postings, ',') AS postings
FROM posting
ORDER BY df DESC, term
LIMIT 100
""",
    doc=(
        "Inverted-index build: per term, document frequency and a "
        f"sorted, {_IDX_MAX_POSTINGS}-capped posting list over the "
        "corpus, serialized as a comma-joined string per the scalar-only "
        "registered-output contract — the search-index artifact. ONE "
        "term-key exchange "
        "builds every posting (collect_list + sort_array is "
        "deterministic and the cap bounds memory per term — at 100 TB "
        "the hot-term guard is this cap plus a stopword df ceiling, "
        "omitted here because the synthetic corpus has a closed "
        "31-term vocabulary); the top-100 report compiles to "
        "TakeOrderedAndProject. Tokenizer is the corpus-wide contract "
        "(operators/tokens.py)."
    ),
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        toks_documents(spark, sf_dir)
        .select("doc_id", F.explode("toks").alias("term"))
        .distinct()
    )
    posting = toks.groupBy("term").agg(
        F.count("*").alias("df"),
        # scalar-only output contract: the capped posting list is emitted
        # as a comma-joined string (bigint rendering matches across
        # engines) — the driver's pandas canonicalizer cannot sort/hash
        # array cells (the q_feature_hash CORRECTNESS_r04 lesson)
        F.array_join(
            F.transform(
                F.slice(
                    F.sort_array(F.collect_list("doc_id")), 1, _IDX_MAX_POSTINGS
                ),
                lambda d: d.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )
    return posting.orderBy(F.desc("df"), "term").limit(100)


# BM25 parameters (the Robertson/Lucene defaults) and a fixed query-term
# set drawn from the corpus vocabulary. Literal terms keep the query
# deterministic; in production the terms arrive as a broadcast config dim
# with the identical plan shape.
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("spark", "table", "join")


@register(
    "q_bm25",
    oracle=f"""
WITH base AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
),
tf AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
         CAST(len(list_filter(t, x -> x = '{_BM25_TERMS[0]}')) AS BIGINT) AS tf1,
         CAST(len(list_filter(t, x -> x = '{_BM25_TERMS[1]}')) AS BIGINT) AS tf2,
         CAST(len(list_filter(t, x -> x = '{_BM25_TERMS[2]}')) AS BIGINT) AS tf3
  FROM base
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl,
         CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
         CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
         CAST(sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df3
  FROM tf
),
hits AS (SELECT * FROM tf WHERE tf1 + tf2 + tf3 > 0),
scored AS (
  SELECT doc_id, tf1 + tf2 + tf3 AS n_hits,
         round(
           (CASE WHEN tf1 > 0 THEN
              ln(1 + (n_docs - df1 + 0.5) / (df1 + 0.5))
              * tf1 * ({_BM25_K1} + 1)
              / (tf1 + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))
            ELSE 0 END)
         + (CASE WHEN tf2 > 0 THEN
              ln(1 + (n_docs - df2 + 0.5) / (df2 + 0.5))
              * tf2 * ({_BM25_K1} + 1)
              / (tf2 + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))
            ELSE 0 END)
         + (CASE WHEN tf3 > 0 THEN
              ln(1 + (n_docs - df3 + 0.5) / (df3 + 0.5))
              * tf3 * ({_BM25_K1} + 1)
              / (tf3 + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))
            ELSE 0 END), 6) AS score
  FROM hits, stats
)
SELECT doc_id, n_hits, score
FROM scored ORDER BY score DESC, doc_id LIMIT 20
""",
    doc=(
        "BM25 full-text ranking: top-20 documents for a fixed query-term "
        "set under the Robertson/Lucene formulation (idf = ln(1 + (N - df "
        "+ 0.5)/(df + 0.5)), k1=1.2, b=0.75 length normalization). "
        "Entirely join-free on the corpus side: per-term frequencies are "
        "map-only array_size(filter(tokens)) expressions (no explode, no "
        "per-term shuffle join), and the (N, avgdl, df1..df3) statistics "
        "collapse into ONE 1-row broadcast pack cross-joined back (the "
        "q_tfidf scalar pattern). ONE corpus tokenization total: the "
        "integer (doc_id, dl, tf) rows are checkpointed and both the pack "
        "aggregation and the hit scan read them; the top-20 compiles to "
        "TakeOrderedAndProject. (At 100 TB the pack pass disappears "
        "entirely when N/avgdl/df come from a standing corpus-profile "
        "table.) Determinism: every score input is an integer or an "
        "exact integer-sum average, the per-term expression order is "
        "fixed, and terms sum in fixed left-to-right order — the 6 dp "
        "rounding is belt-and-braces, not load-bearing."
    ),
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = toks_documents(spark, sf_dir)
    t = F.col("toks")

    def _eq(term: str):
        # one-arg lambda via closure: a `term=term` default would make
        # pyspark's HOF introspection treat it as an (element, index)
        # two-arg lambda and bind `term` to the array index
        return lambda x: x == term

    tf_cols = [
        F.size(F.filter(t, _eq(term))).cast("long").alias(f"tf{i + 1}")
        for i, term in enumerate(_BM25_TERMS)
    ]
    # materialize the tokenized (doc_id, dl, tf1..3) rows once: both the
    # stats pack and the hit scan consume them, and without this the
    # corpus tokenizes twice (the rows are a few longs each, so the
    # checkpoint stores integers, never text)
    base = materialize(
        docs.select("doc_id", F.size(t).cast("long").alias("dl"), *tf_cols),
        eager=False,
    )
    # ONE pack pass: N, avgdl AND per-term df in a single aggregation
    # (df over all docs equals df over hits — tf_i > 0 implies a hit)
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i + 1}") > 0).cast("long")).alias(f"df{i + 1}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    hits = base.filter(
        sum(F.col(f"tf{i + 1}") for i in range(len(_BM25_TERMS))) > 0
    )
    joined = hits.crossJoin(F.broadcast(stats))

    def term_score(i: int):
        tf = F.col(f"tf{i + 1}")
        df_t = F.col(f"df{i + 1}")
        idf = F.log(
            F.lit(1)
            + (F.col("n_docs") - df_t + F.lit(0.5)) / (df_t + F.lit(0.5))
        )
        norm = tf + _BM25_K1 * (
            1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
        )
        return F.when(tf > 0, idf * tf * (_BM25_K1 + 1) / norm).otherwise(
            F.lit(0.0)
        )

    score = F.round(term_score(0) + term_score(1) + term_score(2), 6)
    n_hits = sum(F.col(f"tf{i + 1}") for i in range(len(_BM25_TERMS)))
    return (
        joined.select(
            "doc_id", n_hits.cast("long").alias("n_hits"), score.alias("score")
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


@register(
    "q_perplexity_buckets",
    oracle=f"""
WITH {_LM_SCORE_CTES},
b AS (
  SELECT [round(quantile_cont(avg_logp, 1.0/3), 6),
          round(quantile_cont(avg_logp, 2.0/3), 6)] AS bs
  FROM lm_scored
),
bucketed AS (
  SELECT doc_id, avg_logp,
         len(list_filter(b.bs, x -> x < avg_logp)) AS bk
  FROM lm_scored, b
)
SELECT CASE bk WHEN 2 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END
         AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(avg_logp), 4) AS mean_logp,
       min(avg_logp) AS min_logp,
       max(avg_logp) AS max_logp
FROM bucketed GROUP BY 1
""",
    doc=(
        "CCNet-style perplexity bucketing: documents scored by the "
        "corpus bigram LM (the exact q_ngram_lm pipeline — one shared "
        "definition) are split into head/middle/tail tertiles by LM "
        "score, the standard quality-stratification step before "
        "mixture sampling (head = most fluent under the LM). The "
        "tertile boundaries come from ONE aggregation and enter the "
        "plan as a broadcast 1-row array (the q_histogram_equidepth "
        "shape — no global sort, no unpartitioned window over data); "
        "bucket assignment is a map-only strict-less-than count. "
        "Cross-engine determinism: scores are 4 dp-rounded BEFORE the "
        "quantile pass, so both engines interpolate over bit-identical "
        "inputs; boundaries are rounded to 6 dp (interpolation at "
        "f ∈ {{0, 1/3, 2/3}} between 1e-4-grid values yields 7th-digit "
        "expansions of 0/3/6 — never the half-digit where Spark and "
        "DuckDB rounding modes diverge) so interpolation-formula ulp "
        "noise cannot move a document across a bucket edge."
    ),
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The LM scores arrive via the shared substrate (_lm_scored), already
    # executor-materialized — both consumers here (the tercile-bounds
    # aggregate and the bucket-label join) scan the checkpoint instead of
    # re-running the bigram-LM pipeline (1.68s -> 1.03s at sf0.1 when this
    # was a per-query localCheckpoint; the substrate additionally shares
    # it with q_ngram_lm itself).
    scored = _lm_scored(spark, sf_dir).select("doc_id", "avg_logp")
    bounds = scored.agg(
        F.transform(
            F.percentile("avg_logp", F.lit([1.0 / 3, 2.0 / 3])),
            lambda x: F.round(x, 6),
        ).alias("bs")
    )
    bk = F.size(F.filter("bs", lambda x: x < F.col("avg_logp")))
    label = (
        F.when(bk == 2, "head").when(bk == 1, "middle").otherwise("tail")
    )
    return (
        scored.join(F.broadcast(bounds))
        .select("doc_id", "avg_logp", label.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("avg_logp"), 4).alias("mean_logp"),
            F.min("avg_logp").alias("min_logp"),
            F.max("avg_logp").alias("max_logp"),
        )
    )


@register(
    "q_lang_confusion",
    oracle=f"""
WITH {_lang_id_ctes()}
SELECT lang, pred_lang,
       CAST(count(*) AS BIGINT) AS n,
       floor(count(*) / CAST(sum(count(*)) OVER (PARTITION BY lang)
             AS DOUBLE) * 1000000) / 1000000 AS row_share
FROM lang_pred
GROUP BY lang, pred_lang
""",
    doc=(
        "Language-ID confusion matrix: (declared lang x predicted lang) "
        "counts plus each cell's share of its true-lang row — the "
        "evaluation artifact that decides whether the lang-ID gate is "
        "trustworthy enough to route documents (high off-diagonal mass "
        "on a language = don't filter on it). Built on the exact "
        "q_lang_id prediction (one shared argmax definition, map-only "
        "per doc); the matrix aggregation is ONE hash agg onto a "
        "langs^2-bounded group set, and the row-share window partitions "
        "on lang over that bounded aggregate — KB-sized at any corpus "
        "scale. Shares truncated via floor 1e-6: doc counts per cell "
        "over row totals are exactly the dyadic-ratio shape where "
        "round() diverges between engines."
    ),
)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = q_lang_id(spark, sf_dir)
    cells = pred.groupBy("lang", "pred_lang").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "pred_lang",
        "n",
        floor_ratio(
            F.col("n") / F.sum("n").over(w).cast("double"), 6
        ).alias("row_share"),
    )


# -- trained character-n-gram language ID -------------------------------------

_CG_HEAD = 200  # classify on the first N chars (standard langid practice)
_CG_PROFILE_K = 50  # profile size per language


@register(
    "q_langid_chargram",
    oracle=f"""
WITH docs AS (
  SELECT doc_id, lang, substr(lower(trim(text)), 1, {_CG_HEAD}) AS h
  FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) >= 2 AND lang IS NOT NULL
),
grams AS (
  SELECT doc_id, lang, doc_id % 2 AS split, substr(h, i, 2) AS bg
  FROM docs, LATERAL unnest(range(1, length(h))) AS u(i)
),
profile AS (
  SELECT lang AS cand_lang, bg FROM (
    SELECT lang, bg, row_number() OVER (PARTITION BY lang
             ORDER BY count(*) DESC, bg) AS rn
    FROM grams WHERE split = 0 GROUP BY lang, bg
  ) WHERE rn <= {_CG_PROFILE_K}
),
test_bg AS (
  SELECT DISTINCT doc_id, lang, bg FROM grams WHERE split = 1
),
scores AS (
  SELECT t.doc_id, t.lang, p.cand_lang, count(*) AS hits
  FROM test_bg t JOIN profile p ON t.bg = p.bg
  GROUP BY t.doc_id, t.lang, p.cand_lang
),
pred AS (
  SELECT doc_id, lang,
         first(cand_lang ORDER BY hits DESC, cand_lang) AS pred_lang
  FROM scores GROUP BY doc_id, lang
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       floor(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE) * 1000000) / 1000000 AS acc
FROM pred GROUP BY lang
""",
    doc=(
        "TRAINED character-bigram language identifier (the Cavnar-"
        "Trenkle n-gram-profile method) with a real train/test split: "
        "even doc_ids build a top-50-bigram profile per language, odd "
        "doc_ids are classified by profile-overlap argmax "
        "(deterministic tie-break), and per-language test accuracy is "
        "emitted — the measured-quality complement of q_lang_id's "
        "fixed stopword lexicon. On THIS corpus the measured accuracy "
        "sits at chance, and that is the audit's finding, not its "
        "failure: the synthetic lang labels are text-independent "
        "(q_lang_confusion shows the lexicon method predicting 'en' "
        "for every language — same diagnosis from the fixed-lexicon "
        "side), and a label-learnability probe is exactly what a "
        "corpus pipeline runs before paying for classifier training. "
        "The classifier itself is proven on a signal-bearing corpus "
        "in tests (distinct alphabets -> accuracy 1.0). Scale shape: "
        "bigrams come from the "
        "first 200 chars only (the standard langid truncation — "
        "accuracy saturates while cost stays bounded per doc), the "
        "profile is a lang-bounded top-k over one (lang, bigram) "
        "aggregate, and scoring is a broadcast join of that <=250-row "
        "profile against distinct test-doc bigrams followed by one "
        "(doc, lang) argmax. Train cost is one aggregate — retraining "
        "per corpus vintage is cheaper than shipping a model."
    ),
)
def q_langid_chargram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): the bigram fanout and map-side scoring are CPU-bound and
    # the local parquet arrives in ~3 splits — round-robin to cores
    # (no-op at real scale where the scan already yields >= cores splits)
    from cloud_data_sync_spark.tables import spread

    return chargram_langid(spread(load_table(spark, sf_dir, "documents")))


def chargram_langid(documents: DataFrame) -> DataFrame:
    """Generic over any (doc_id, text, lang) frame — the registered key
    runs it on the corpus; tests run it on a signal-bearing corpus to
    prove the classifier (this corpus's labels are text-independent)."""
    docs = (
        documents
        .filter(
            F.col("text").isNotNull()
            & (F.length(F.trim(F.col("text"))) >= 2)
            & F.col("lang").isNotNull()
        )
        .select(
            "doc_id",
            "lang",
            (F.col("doc_id") % 2).alias("split"),
            F.expr(
                f"substr(lower(trim(text)), 1, {_CG_HEAD})"
            ).alias("h"),
        )
    )
    # length(h) >= 2 re-checked AFTER lowering: the pre-lower guard is on
    # length(trim(text)), and Java lowercasing can change string length
    # for rare Unicode (e.g. İ -> i̇), so h can reach length 1 here —
    # where Spark's sequence(1, 0) yields a DESCENDING [1, 0] (spurious
    # bigrams, incl. a substr at pos 0) while DuckDB's range(1, 1) is
    # empty. The filter makes the empty case explicit on both engines.
    #
    # profile build: only the TRAIN split explodes (the test split scores
    # against per-doc arrays below), and the explode fans out the INT
    # position sequence with substr(h, i, 2) as a codegen projection —
    # NOT a transform(...) HOF array. Two reasons, both measured at
    # sf0.1 (r11): the HOF lambda runs interpreted (no whole-stage
    # codegen), and exploding a PROJECTED HOF array triggers
    # InferFiltersFromGenerate to clone the whole transform into the
    # pushed filter as size(transform(..)) > 0 AND isnotnull(transform
    # (..)) — three interpreted evaluations per row, 0.57 s -> 3.2 s on
    # the gram stage (the guide §4.4 duplication class, for expressions
    # instead of UDFs).
    grams = (
        docs.filter((F.length("h") >= 2) & (F.col("split") == 0))
        .select(
            "lang", "h",
            F.explode(F.sequence(F.lit(1), F.length("h") - 1)).alias("i"),
        )
        .select("lang", F.expr("substr(h, i, 2)").alias("bg"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("cnt"), F.asc("bg")
    )
    profile = (
        grams.groupBy("lang", "bg")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _CG_PROFILE_K)
        .select(F.col("lang").alias("cand_lang"), "bg")
    )
    # r11 rework (guide §8: decide with small rows): the per-language
    # profiles pack into ONE broadcast row of (cand_lang, bigram-set)
    # structs (≤ langs × K entries — config-bounded at any corpus size),
    # and scoring is MAP-SIDE: hits = |distinct doc bigrams ∩ profile
    # set| via array_intersect (distinct by definition, matching the
    # old DISTINCT test_bg ⋈ profile counting), argmax via array_min
    # over (-hits, cand_lang) structs — the exact (hits DESC, cand_lang
    # ASC) tie-break of the old rank window. Zero-hit docs yield an
    # empty candidate array (array_min → NULL) and drop, matching the
    # old inner join. Replaces the test-side explode, the
    # (doc, lang, bg) distinct exchange, the profile hash join, the
    # (doc, lang, cand) aggregate exchange and the per-doc rank window
    # with one projection — the only post-profile exchange left is the
    # final per-language rollup.
    pack = profile.groupBy("cand_lang").agg(
        F.collect_list("bg").alias("pbgs")
    ).agg(
        F.collect_list(F.struct("cand_lang", "pbgs")).alias("prof")
    )
    best = F.array_min(
        F.filter(
            F.transform(
                F.col("prof"),
                lambda p: F.struct(
                    (-F.size(F.array_intersect(F.col("bgs"), p["pbgs"])))
                    .alias("neg"),
                    p["cand_lang"].alias("cand_lang"),
                ),
            ),
            lambda s: s["neg"] < 0,
        )
    )
    test = docs.filter((F.length("h") >= 2) & (F.col("split") == 1)).select(
        "doc_id",
        "lang",
        F.expr(
            "transform(sequence(1, length(h) - 1), i -> substr(h, i, 2))"
        ).alias("bgs"),
    )
    pred = (
        test.crossJoin(F.broadcast(pack))
        .withColumn("best", best)
        .filter(F.col("best").isNotNull())
        .select("doc_id", "lang", F.col("best.cand_lang").alias("pred_lang"))
    )
    return pred.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("pred_lang") == F.col("lang"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
        floor_ratio(
            F.sum(
                F.when(F.col("pred_lang") == F.col("lang"), 1).otherwise(0)
            )
            / F.count("*").cast("double"),
            6,
        ).alias("acc"),
    )


# -- readability scoring -------------------------------------------------------


@register(
    "q_text_readability",
    oracle="""
WITH feats AS (
  SELECT doc_id, lang,
         len(string_split_regex(trim(text), '\\s+')) AS n_words,
         greatest(len(string_split_regex(text, '[.!?]')) - 1, 1)
           AS n_sents,
         greatest(len(regexp_extract_all(lower(text),
           '[aeiouy]+')), 1) AS n_syl
  FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
),
scored AS (
  SELECT lang, n_words,
         206.835 - 1.015 * (n_words / CAST(n_sents AS DOUBLE))
                 - 84.6 * (n_syl / CAST(n_words AS DOUBLE)) AS flesch
  FROM feats WHERE n_words > 0
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       floor(avg(flesch) * 10000) / 10000 AS avg_flesch,
       floor(min(flesch) * 10000) / 10000 AS min_flesch,
       floor(max(flesch) * 10000) / 10000 AS max_flesch,
       CAST(sum(CASE WHEN flesch < 30 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hard
FROM scored GROUP BY lang
""",
    doc=(
        "Flesch reading-ease scoring per language — the readability "
        "band filter quality pipelines run next to Gopher rules: "
        "206.835 - 1.015(words/sentence) - 84.6(syllables/word), with "
        "the standard cheap proxies (sentence = [.!?] split, syllable "
        "= vowel group) that make the formula computable as pure "
        "string ops. Everything is one map-side projection (regex "
        "split/extract counts — no explode, no token rows materialize) "
        "plus one bounded (lang) rollup; at 100 TB the score is a "
        "per-doc column you compute during ingest for free. Guards: "
        "sentence/syllable counts clamp to >= 1 so empty-ish docs "
        "divide safely on both engines."
    ),
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): three regex passes per document are the per-row wall and
    # the documents parquet is 1-2 splits locally (the q_token_bpe /
    # q_ols_regression split-bound class). Keyed on the unique doc_id
    # (r11 rule); no-op at real scale.
    from cloud_data_sync_spark.tables import spread

    feats = (
        spread(load_table(spark, sf_dir, "documents"), "doc_id")
        .filter(
            F.col("text").isNotNull()
            & (F.length(F.trim(F.col("text"))) > 0)
        )
        .select(
            "lang",
            F.size(F.split(F.trim(F.col("text")), r"\s+")).alias(
                "n_words"
            ),
            F.greatest(
                F.size(F.split(F.col("text"), r"[.!?]")) - 1, F.lit(1)
            ).alias("n_sents"),
            F.greatest(
                F.size(
                    F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
                ),
                F.lit(1),
            ).alias("n_syl"),
        )
    )
    flesch = (
        F.lit(206.835)
        - 1.015 * (F.col("n_words") / F.col("n_sents").cast("double"))
        - 84.6 * (F.col("n_syl") / F.col("n_words").cast("double"))
    )
    return (
        feats.filter(F.col("n_words") > 0)
        .select("lang", F.col("n_words"), flesch.alias("flesch"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            (F.floor(F.avg("flesch") * 10_000) / 10_000).alias(
                "avg_flesch"
            ),
            (F.floor(F.min("flesch") * 10_000) / 10_000).alias(
                "min_flesch"
            ),
            (F.floor(F.max("flesch") * 10_000) / 10_000).alias(
                "max_flesch"
            ),
            F.sum(F.when(F.col("flesch") < 30, 1).otherwise(0))
            .cast("long")
            .alias("n_hard"),
        )
    )
