"""Deduplication operators for training-data pipelines.

Five dedup families over ``documents`` / ``embeddings``:

- exact (hash-groupBy on normalized content)
- token-set near-dup (order-insensitive content hash)
- MinHash + LSH banding (shingle → 16-perm signature → 4 bands → bucket join)
- SimHash (64-bit per-nibble majority fingerprint)
- embedding-cosine near-dup (label-blocked pairwise)

Everything is built-in-function Spark (codegen'd, no Python UDFs). The
corpus is augmented with deterministic exact/near/reordered copies so the
operators provably find clusters; the oracle builds the identical corpus.

Scale design (100 TB): every stage is a groupBy/join on bounded keys —
shingle explosion is the widest point and is O(tokens) per doc with
map-side distinct; LSH banding turns the quadratic all-pairs problem into
per-bucket joins (bucket size ~ N / 16^4 per band); nothing collects to the
driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cloud_data_sync_spark.operators.tokens import low_toks, toks_documents
from cloud_data_sync_spark.registry import floor_ratio, register
from cloud_data_sync_spark.tables import (
    load_table,
    materialize,
    session_cached,
    session_substrate,
    spread as _spread,
)

N_PERM = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERM // N_BANDS
AUG_OFFSET = 1 << 42

# Augmentation branch offset: 2^42. Branch k adds k*AUG_OFFSET to the base
# doc_id, so augmented ids stay unique and modulo-recoverable for any
# corpus with max(doc_id) < 2^42 (~4.4e12 documents — far beyond a 100 TB
# crawl's ~1e11). Replaces the r9 1M offsets, whose guard hard-failed the
# whole dedup family at id scales a larger corpus legitimately reaches
# (r10 advice); the guard below now only fires at a ceiling no real
# corpus hits.

# -- augmented corpus (identical construction in Spark and oracle SQL) -------


def guard_augment_id_space(spark: SparkSession, sf_dir: str) -> None:
    """Fail LOUDLY if original doc_ids reach the 1M augmentation offset.

    Several consumers of the augmented corpus classify or recover rows
    through the deterministic branch offsets — q_dedup_cross_source and
    q_dedup_band_sweep via ``doc_id % AUG_OFFSET``, the streaming crawl
    (streaming/crawl.py) via ``doc_id >= AUG_OFFSET`` batch membership —
    and every one silently mis-attributes the moment an original id
    collides with the offset space; the DuckDB oracles share the
    assumption, so the dual-engine gate cannot catch it. This is a
    documented control-plane collect (ONE max over a long column,
    memoized per session+vintage — at 100 TB a single columnar max-agg,
    the standard price of a fail-loudly integrity gate before a dedup
    campaign) that raises instead of letting the campaign mis-attribute
    (r8 ADVICE, generalized from q_dup_inflation — which now carries
    `source` through the branches and needs no recovery)."""

    def check() -> bool:
        docs = load_table(spark, sf_dir, "documents")
        mx = docs.agg(F.max("doc_id").alias("m")).collect()[0].m
        if mx is not None and mx >= AUG_OFFSET:
            raise ValueError(
                f"augment id-space guard: max(doc_id)={mx} >= {AUG_OFFSET} "
                "(2^42) — the augmentation branch offsets (k * 2^42) would "
                "collide with original ids; offset-based base-id recovery "
                "and crawl-batch membership would mis-attribute. Raise "
                "AUG_OFFSET before running dedup at this id scale"
            )
        return True

    session_cached(spark, sf_dir, "dedup-aug-id-guard", "documents", check)


def augmented_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies (id+2M, %7) ∪ near copies with appended
    tokens (id+1M, %10) ∪ token-sorted reorderings (id+3M, %9).
    Guarded by :func:`guard_augment_id_space` (offset-collision check,
    once per session+vintage)."""
    guard_augment_id_space(spark, sf_dir)
    return augment_docs(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def augment_docs(docs: DataFrame) -> DataFrame:
    """The augmentation itself over any (doc_id, text) frame — shared by
    the batch corpus and the streaming crawl source (streaming/crawl.py),
    so the two inputs cannot drift; every branch is a per-row projection,
    valid on batch and streaming DataFrames alike.

    Any columns beyond (doc_id, text) are CARRIED THROUGH every branch
    unchanged — consumers that need original-row attributes (e.g.
    q_dup_inflation's per-source report) pass them in here instead of
    re-deriving the original doc_id by modulo arithmetic, which silently
    mis-attributes rows once original ids reach the 1M branch offset."""
    carry = [c for c in docs.columns if c not in ("doc_id", "text")]
    exact = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2 * AUG_OFFSET).alias("doc_id"), "text", *carry
    )
    near = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + AUG_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra trailing tokens appended")).alias("text"),
        *carry,
    )
    reorder = docs.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 3 * AUG_OFFSET).alias("doc_id"),
        F.array_join(F.array_sort(F.split(F.trim(F.col("text")), r"\s+")), " ").alias(
            "text"
        ),
        *carry,
    )
    return docs.unionByName(exact).unionByName(near).unionByName(reorder)


def _aug_sql(extra_cols: str = "") -> str:
    """The oracle-side augmentation CTE — ONE definition of the 4-branch
    construction (offsets, the appended-tokens literal, the reorder
    expression) so Spark's augment_docs and every oracle stay in sync
    from a single place. ``extra_cols`` (e.g. ``", source"``) projects
    original-row columns through every branch, mirroring augment_docs'
    column carry-through."""
    return f"""
aug AS (
  SELECT doc_id, text{extra_cols} FROM documents
  UNION ALL
  SELECT doc_id + {2 * AUG_OFFSET}, text{extra_cols} FROM documents
  WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + {AUG_OFFSET},
         text || ' extra trailing tokens appended'{extra_cols}
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + {3 * AUG_OFFSET},
         array_to_string(list_sort(string_split_regex(trim(text), '\\s+')), ' '){extra_cols}
  FROM documents WHERE doc_id % 9 = 0
)
"""


_AUG_SQL = _aug_sql()


# -- exact + token-set dedup -------------------------------------------------


@register(
    "q_dedup_exact",
    oracle=f"""
WITH {_AUG_SQL},
hashed AS (SELECT doc_id, md5(lower(trim(text))) AS content_hash FROM aug)
SELECT doc_id, content_hash,
       CAST(min(doc_id) OVER (PARTITION BY content_hash) AS BIGINT) AS canonical_id,
       CAST(count(*) OVER (PARTITION BY content_hash) AS BIGINT) AS n_copies
FROM hashed
""",
    doc="Exact dedup: hash-groupBy canonicalization; keep = (doc_id == canonical_id).",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed = augmented_documents(spark, sf_dir).select(
        "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("content_hash")
    )
    w = Window.partitionBy("content_hash")
    return hashed.select(
        "doc_id",
        "content_hash",
        F.min("doc_id").over(w).alias("canonical_id"),
        F.count("*").over(w).alias("n_copies"),
    )


@register(
    "q_dedup_tokenset",
    oracle=f"""
WITH {_AUG_SQL},
hashed AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(
             string_split_regex(trim(lower(text)), '\\s+'))), ' ')) AS tokenset_hash
  FROM aug
),
grouped AS (
  SELECT doc_id, tokenset_hash,
         CAST(min(doc_id) OVER (PARTITION BY tokenset_hash) AS BIGINT) AS canonical_id,
         CAST(count(*) OVER (PARTITION BY tokenset_hash) AS BIGINT) AS group_size
  FROM hashed
)
SELECT * FROM grouped WHERE group_size > 1
""",
    doc="Near-dup via order-insensitive token-set hash (catches reorderings).",
)
def q_dedup_tokenset(spark: SparkSession, sf_dir: str) -> DataFrame:
    # adaptive spread: tokenize + sort + md5 per augmented row is the
    # map wall on a few local splits (the q_dup_inflation class, same
    # gating: past 20k footer documents; no-op at real scale).
    from cloud_data_sync_spark.tables import spread, table_num_rows

    toks_col = low_toks()
    aug = augmented_documents(spark, sf_dir)
    if table_num_rows(sf_dir, "documents") > 20_000:
        aug = spread(aug, "doc_id")
    hashed = aug.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks_col)), " ")).alias(
            "tokenset_hash"
        ),
    )
    w = Window.partitionBy("tokenset_hash")
    return (
        hashed.select(
            "doc_id",
            "tokenset_hash",
            F.min("doc_id").over(w).alias("canonical_id"),
            F.count("*").over(w).alias("group_size"),
        )
        .filter(F.col("group_size") > 1)
    )


# -- MinHash + LSH -----------------------------------------------------------


def _with_shingles(docs: DataFrame) -> DataFrame:
    """Add an ``sh`` column: distinct word trigrams of the lowercased text.

    The token array is materialized as its own column FIRST and the
    trigrams are built from slice/zip_with over that attribute. Embedding
    the split() inside a transform(sequence(...)) lambda re-evaluates the
    full regex split once per shingle index (O(tokens²) per doc — measured
    30× slower at sf0.1); CollapseProject keeps a non-cheap alias used three
    times un-inlined, so here split runs once per row.
    """
    # one parsed text expression (the q_bootstrap_ci py4j lesson): the
    # Column form issued ~30 driver round trips per consumer build; the
    # resolved lambda plan is identical. `take` repeats inline exactly as
    # the Column subtree did — runtime subexpression elimination applies
    # either way.
    take = "greatest(size(toks) - 2, 0)"
    tri = (
        f"zip_with(zip_with(slice(toks, 1, {take}), slice(toks, 2, {take}),"
        " (a, b) -> concat(a, ' ', b)),"
        f" slice(toks, 3, {take}), (p, c) -> concat(p, ' ', c))"
    )
    return docs.withColumn(
        "toks", low_toks()
    ).withColumn("sh", F.expr(f"array_distinct({tri})"))


# MinHash "permutation" family: the i-th ordering is the 16-hex-char
# window h[i:i+16] of the 32-char md5 (substring(h, i+1, 16) in the sig
# expression below). A single substring (no concat, no allocation beyond
# the slice) measured ~2x faster than rotating the full digest, and each
# window starts at a different digest position, which is all MinHash
# needs from a pseudo-random ordering family. i ranges 0..15 so every
# window stays inside the digest.


def minhash_signatures(
    docs: DataFrame, hashed_shingles: bool = False, spread_input: bool = True
) -> DataFrame:
    """(doc_id, sh, sig): trigram shingles + 16-min MinHash signature.

    Entirely per-row (transform -> md5 -> array_min of 16 windows): ZERO
    shuffles, embarrassingly parallel, and the shingle array stays on the
    row so downstream exact-Jaccard verification needs no join-back.
    Docs with <3 tokens (no shingles) are dropped, matching the oracle's
    unnest semantics. (An explode + 16-min groupBy variant measured ~2x
    slower end-to-end once the shuffle and re-scan costs are counted.)

    ``hashed_shingles`` replaces ``sh`` with ``shh``: xxhash64 of each
    shingle (array<long>). Downstream set overlap (|A∩B|, Jaccard,
    containment) only needs counts, and distinct strings map to distinct
    longs (64-bit collisions over a ~27k universe are ~1e-11 per corpus) —
    so verification columns shuffle as 8-byte longs instead of ~20-byte
    shingle strings, and array_intersect compares longs, not strings.
    """
    # spread_input=False for streaming inputs: ``spread`` probes the batch
    # file listing, and micro-batch parallelism is the trigger's business
    hs = _with_shingles(_spread(docs) if spread_input else docs).withColumn(
        "hs", F.transform("sh", F.md5)
    ).filter(F.size("hs") > 0)
    # one parsed text expression per signature (the _win(h, i) window at
    # each of the 16 start offsets); the Column form (16 × array_min ∘
    # transform) issued ~100 py4j calls per consumer build. NB: each
    # lambda takes exactly one arg — a two-arg lambda would receive the
    # element INDEX as its second argument from transform().
    #
    # Lane representation: each lane is the min hex WINDOW reinterpreted
    # as a signed 64-bit long (conv base16 -> signed) — 8 bytes/lane on
    # the wire instead of a 16-char string (~24 B incl. length), so the
    # signature array shuffles ~3x smaller. The min is taken over the
    # STRINGS first (fixed-width lowercase hex min == unsigned numeric
    # min; the signed reinterpret after the min is bijective, so lane
    # EQUALITY — all any consumer tests — is untouched). The oracle keeps
    # the string form: no lane value ever reaches query output, so
    # cross-engine identity is only needed for the equality pattern,
    # which the bijection preserves (md5 itself stays the one
    # cross-engine-shared hash family; see SCALE.md §Dedup).
    sig = F.expr(
        "array("
        + ", ".join(
            "cast(conv(array_min(transform(hs, h -> "
            f"substring(h, {i + 1}, 16))), 16, -10) as bigint)"
            for i in range(N_PERM)
        )
        + ")"
    )
    if hashed_shingles:
        shh = F.expr("transform(sh, s -> xxhash64(s))")
        return hs.select("doc_id", shh.alias("shh"), sig.alias("sig"))
    return hs.select("doc_id", "sh", sig.alias("sig"))


def corpus_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The augmented corpus's ``(doc_id, shh, sig)`` signature table,
    materialized ONCE per (session, sf_dir, documents vintage).

    Seven dedup-family queries consume this exact deterministic
    intermediate (minhash, ngram-jaccard, containment, clusters, the
    prefix-filter join's shingle lists, and — filtered to the doc_id % 8
    audit sample, which commutes with this per-row pipeline — both
    estimator audits). Without sharing, each re-tokenizes, re-shingles,
    re-md5s and re-mins the whole corpus. This is the session-scoped
    analogue of the signature table a 100 TB dedup pipeline writes once
    and scans from every consumer; the checkpoint stores set-size rows
    (longs + 16 hex windows), never document text.
    """
    return session_substrate(
        spark,
        sf_dir,
        "dedup-sig",
        "documents",
        lambda: minhash_signatures(
            augmented_documents(spark, sf_dir), hashed_shingles=True
        ),
    )


def lsh_candidate_pairs(
    sigd: DataFrame, carry_shingles: bool = False, shingle_col: str = "sh"
) -> DataFrame:
    """Band the signature, bucket by (band, band-hash), expand pairs inside
    each bucket.

    ONE shuffle total for the whole MinHash+LSH pipeline (this bucket
    groupBy) — no self-join, no exchange-reuse dependence. Pair expansion
    is per-bucket array work; LSH keeps buckets small by design (a giant
    bucket means near-identical docs, i.e. the pairs themselves are the
    answer, not avoidable work). ``carry_shingles`` additionally ships the
    shingle arrays through the same shuffle so exact verification costs no
    extra pass over the corpus; ``shingle_col`` picks which representation
    rides along ("sh" strings, or "shh" xxhash64 longs — see
    minhash_signatures(hashed_shingles=True)).
    """
    payload = ["doc_id", "sig"] + ([shingle_col] if carry_shingles else [])
    # bucket key: xxhash64 over (band, the band's 4 long lanes) — an
    # 8-byte shuffle key (the md5-of-concat form shuffled a 32-char
    # string). The key is ENGINE-INTERNAL: band semantics is lane-tuple
    # equality, which the oracle mirrors directly (md5-bucket equality ==
    # tuple equality there too), so no cross-engine hash identity is
    # needed here. A 64-bit key collision would only ADD a candidate
    # pair (P ~ n_tuples^2 / 2^65 per band, ~1e-10 at sf0.1), and every
    # registered consumer filters candidates by signature agreement or
    # exact overlap downstream.
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.lit(b),
                    *[
                        F.col("sig")[b * ROWS_PER_BAND + r]
                        for r in range(ROWS_PER_BAND)
                    ],
                ).alias("bh"),
            )
            for b in range(N_BANDS)
        ]
    )
    banded = sigd.select(*payload, F.explode(bands).alias("bd")).select(
        *payload, F.col("bd.band").alias("band"), F.col("bd.bh").alias("bh")
    )
    buckets = (
        banded.groupBy("band", "bh")
        .agg(F.array_sort(F.collect_list(F.struct(*payload))).alias("m"))
        .filter(F.size("m") > 1)
    )
    m = F.col("m")
    fields = [("doc_a", "doc_id"), ("doc_b", "doc_id"), ("sig_a", "sig"), ("sig_b", "sig")]
    if carry_shingles:
        fields += [(f"{shingle_col}_a", shingle_col), (f"{shingle_col}_b", shingle_col)]
    pair_arr = F.flatten(
        F.transform(
            m,
            lambda x, i: F.transform(
                F.slice(m, i + 2, F.size(m)),
                lambda y: F.struct(
                    *[
                        (x if out.endswith("_a") else y)[src_f].alias(out)
                        for out, src_f in fields
                    ]
                ),
            ),
        )
    )
    out_cols = [f for f, _ in fields]
    return buckets.select(F.explode(pair_arr).alias("p")).select(
        *[F.col(f"p.{c}").alias(c) for c in out_cols]
    )


def _est_jaccard() -> Column:
    matches = F.aggregate(
        F.zip_with(
            F.col("sig_a"), F.col("sig_b"), lambda x, y: F.when(x == y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return matches / F.lit(float(N_PERM))


_ORACLE_SIG_CTES = """
toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM aug
),
shl AS (
  SELECT doc_id, list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])
                ELSE CAST([] AS VARCHAR[]) END) AS sh
  FROM toks
),
hs AS (
  SELECT doc_id, md5(unnest(sh)) AS h FROM shl
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM hs GROUP BY doc_id
),
bands AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)
""".format(
    mins=",\n         ".join(
        f"min(substr(h, {i + 1}, 16)) AS s{i}" for i in range(N_PERM)
    ),
    band_selects="\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, md5({cols}) AS bh FROM sig".format(
            b=b,
            cols=" || ',' || ".join(
                f"s{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(N_BANDS)
    ),
)

_MINHASH_MATCHES = " + ".join(
    f"CASE WHEN x.s{i} = y.s{i} THEN 1 ELSE 0 END" for i in range(N_PERM)
)


@register(
    "q_dedup_minhash",
    oracle=f"""
WITH {_AUG_SQL},
{_ORACLE_SIG_CTES}
SELECT c.doc_a, c.doc_b,
       round(({_MINHASH_MATCHES}) / 16.0, 4) AS est_jaccard
FROM cand c
JOIN sig x ON x.doc_id = c.doc_a
JOIN sig y ON y.doc_id = c.doc_b
WHERE ({_MINHASH_MATCHES}) / 16.0 >= 0.5
""",
    doc=(
        "MinHash(16)+LSH(4 bands): per-row signature -> band-bucket groupBy "
        "-> in-bucket pair expansion -> estimated Jaccard >= 0.5. One "
        "shuffle end-to-end; the scale path for near-dedup (no all-pairs)."
    ),
    plan=lambda spark, sf_dir: _minhash_dups_build(spark, sf_dir),
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_dups(spark, sf_dir)


# The estimated-duplicate pair set (est_jaccard >= 0.5 over LSH candidates)
# is read by TWO registered queries — q_dedup_minhash emits it and
# q_dedup_clusters builds its duplicate graph from exactly these pairs —
# so it materializes once per (session, documents vintage). Pair-key rows
# only (ids + one double), never signatures or text.
def _minhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_substrate(
        spark,
        sf_dir,
        "dedup.minhash_dups",
        "documents",
        lambda: _minhash_dups_build(spark, sf_dir),
    )


def _minhash_dups_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # signatures from the shared substrate; payload is (doc_id, sig) only
    pairs = lsh_candidate_pairs(corpus_signatures(spark, sf_dir).select("doc_id", "sig"))
    return (
        pairs.select(
            "doc_a", "doc_b", F.round(_est_jaccard(), 4).alias("est_jaccard")
        )
        .filter(F.col("est_jaccard") >= 0.5)
        .distinct()
    )


@register(
    "q_dedup_ngram_jaccard",
    oracle=f"""
WITH {_AUG_SQL},
{_ORACLE_SIG_CTES}
SELECT DISTINCT c.doc_a, c.doc_b,
       floor(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
             * 10000) / 10000
         AS jaccard
FROM cand c
JOIN shl x ON x.doc_id = c.doc_a
JOIN shl y ON y.doc_id = c.doc_b
WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
      / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= 0.5
""",
    doc=(
        "Exact n-gram (trigram-shingle) Jaccard over LSH candidate pairs — "
        "the verification stage of two-stage near-dedup. The shingle arrays "
        "ride the single bucket shuffle next to the signatures, so "
        "verification adds zero extra passes and zero joins: candidate "
        "generation and exact set overlap happen in one pipeline."
    ),
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shingles ride the bucket shuffle as xxhash64 longs (shh): Jaccard only
    # needs overlap counts, and longs shuffle/intersect ~3x cheaper than
    # shingle strings (see minhash_signatures docstring for collision math)
    pairs = lsh_candidate_pairs(
        corpus_signatures(spark, sf_dir),
        carry_shingles=True,
        shingle_col="shh",
    )
    inter = F.size(F.array_intersect("shh_a", "shh_b")).cast("double")
    union = F.size("shh_a") + F.size("shh_b") - F.size(F.array_intersect("shh_a", "shh_b"))
    return (
        pairs.select(
            "doc_a", "doc_b", floor_ratio(inter / union, 4).alias("jaccard"),
            (inter / union).alias("_raw"),
        )
        .filter(F.col("_raw") >= 0.5)
        .drop("_raw")
        .distinct()
    )


_LOCAL_CC_MAX_EDGES = 2_000_000


def _cc_local(sym: DataFrame) -> DataFrame:
    """Union-find over a collected edge list → (v, label) DataFrame.

    Only reachable behind the edge-count guard in ``connected_components``;
    label = min vertex id of the component (path-compressed union by the
    smaller root, so roots ARE minima — matches the propagation fixpoint).
    """
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    # one Arrow transfer, not collect() and not toLocalIterator:
    # toLocalIterator's sequential per-partition fetches cost a scheduling
    # round-trip each (measured ~1s at sf0.1), and collect() materializes
    # pyspark Row objects at ~150-250 B each — ~5-10x the "32 MB of longs"
    # the guard was sized for. toPandas ships two int64 numpy columns:
    # 16 B/edge, so the ≤2M-edge guard really is ~32 MB on the driver.
    pdf = sym.select("a", "b").toPandas()
    for a, b in zip(pdf["a"].to_numpy().tolist(), pdf["b"].to_numpy().tolist()):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union toward the smaller id so every root is its component min
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    vtype = sym.schema["a"].dataType
    schema = T.StructType(
        [T.StructField("v", vtype, False), T.StructField("label", vtype, False)]
    )
    rows = [(v, find(v)) for v in parent]
    spark = sym.sparkSession
    return spark.createDataFrame(rows, schema)


def connected_components(
    edges: DataFrame, max_iter: int = 20, local_max_edges: int = _LOCAL_CC_MAX_EDGES
) -> DataFrame:
    """Min-label propagation over an undirected edge list → (v, cluster_id).

    Scale-adaptive, the same way Spark itself picks broadcast-hash for a
    small join side: the duplicate graph's SIZE is known after the edge
    list materializes, so below ``local_max_edges`` (≈32 MB of longs) the
    component labels are computed with a driver-side union-find — one
    collect, zero iterative jobs — and shipped back as a DataFrame. A
    tiny graph solved iteratively costs 10+ driver-scheduled job rounds
    of pure scheduling floor; solved locally it costs milliseconds.

    Above the bound (the 100 TB path — duplicate-pair graphs at corpus
    scale are billions of edges), iterative min-label propagation runs:
    each round is two distributed joins (pull the min label from
    neighbors, fold it into the current label); ONLY the convergence flag
    (a count) comes to the driver. ``materialize`` (localCheckpoint, or a
    reliable checkpoint when ``spark.cloud_data_sync.checkpoint_dir`` is
    set — the cluster deployment flag, tables.py) truncates the lineage
    each round — without it the plan doubles per iteration and the job
    dies on analysis time long before data size matters. Rounds
    needed = graph diameter, which for near-dup clusters is tiny;
    ``max_iter`` caps pathological chains.
    """
    # materialize the edge list ONCE — it is re-joined every round, and
    # leaving it lazy would re-execute the (expensive) upstream plan that
    # produced the edges on every iteration. Checkpoint the HALF-size
    # directed list; union-find treats an edge as symmetric already, so
    # only the propagation path pays for the symmetrized union (lazily,
    # over the checkpointed rows).
    ed = materialize(edges.selectExpr("a", "b"), eager=True)

    if ed.count() <= local_max_edges:
        return _cc_local(ed)
    sym = ed.union(ed.selectExpr("b AS a", "a AS b"))
    labels = materialize(
        sym.select(F.col("a").alias("v"))
        .distinct()
        .withColumn("label", F.col("v")),
        eager=True,
    )

    def _propagate(lbl: DataFrame) -> DataFrame:
        neighbor_min = (
            sym.join(lbl, sym.b == lbl.v)
            .groupBy("a")
            .agg(F.min("label").alias("nmin"))
        )
        return lbl.join(neighbor_min, lbl.v == neighbor_min.a, "left").select(
            "v",
            F.least(
                F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
            ).alias("label"),
        )

    for _ in range(max_iter):
        # TWO propagation steps per driver action: at this loop's data
        # volume the cost of a round is the job-scheduling floor, not the
        # joins, so folding two steps into one lazy-checkpoint + count
        # action halves the driver round-trips (measured ~2x at sf0.1).
        # Convergence detection is one step coarser — worst case one
        # extra (idempotent) propagation.
        stepped = (
            _propagate(_propagate(labels))
            .withColumnRenamed("label", "new_label")
            .join(labels.withColumnRenamed("label", "old_label"), "v")
        )
        stepped = materialize(stepped, eager=False)
        changed = stepped.filter(F.col("new_label") != F.col("old_label")).count()
        labels = stepped.select("v", F.col("new_label").alias("label"))
        if changed == 0:
            break
    else:
        # Exhausting max_iter with labels still moving means some chain is
        # longer than 2*max_iter hops — returning the partial labels would
        # silently emit cluster_ids that are NOT the component minimum.
        # Fail loudly; the caller raises max_iter (or the threshold that
        # produced so elongated a duplicate graph deserves a look).
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing)"
        )
    return labels


@register(
    "q_dedup_clusters",
    oracle=f"""
WITH RECURSIVE {_AUG_SQL},
{_ORACLE_SIG_CTES},
dup AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN sig x ON x.doc_id = c.doc_a
  JOIN sig y ON y.doc_id = c.doc_b
  WHERE ({_MINHASH_MATCHES}) / 16.0 >= 0.5
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM dup
  UNION
  SELECT doc_b, doc_a FROM dup
),
reach(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.a, r.b FROM edges e JOIN reach r ON r.a = e.b
)
SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
FROM reach GROUP BY a
""",
    doc=(
        "Near-dup cluster assignment: connected components over the "
        "MinHash/LSH duplicate graph via iterative min-label propagation "
        "(per-round: two joins + an agg; only the convergence count hits "
        "the driver). cluster_id = min doc_id of the component — the "
        "canonical survivor every dedup pipeline keeps. Oracle: recursive-"
        "CTE transitive closure (fine at oracle scale; propagation is the "
        "form that scales)."
    ),
    plan=lambda spark, sf_dir: _cluster_labels_build(spark, sf_dir),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cluster_labels(spark, sf_dir)


# Cluster labels are read by q_dedup_clusters (emits them) and
# q_dedup_survivors (picks the canonical doc per cluster), so the label
# table — (doc_id, cluster_id) pairs, graph-node-sized — materializes
# once. This also caches the iterative CC computation itself: label
# propagation's per-round convergence counts run once per input vintage.
def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_substrate(
        spark,
        sf_dir,
        "dedup.cluster_labels",
        "documents",
        lambda: _cluster_labels_build(spark, sf_dir),
    )


def _cluster_labels_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the duplicate graph's edge set IS q_dedup_minhash's result — read the
    # shared pair substrate (already distinct) instead of re-banding
    dup = _minhash_dups(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    return connected_components(dup).select(
        F.col("v").alias("doc_id"), F.col("label").alias("cluster_id")
    )


@register(
    "q_cluster_size_dist",
    oracle=f"""
WITH RECURSIVE {_AUG_SQL},
{_ORACLE_SIG_CTES},
dup AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN sig x ON x.doc_id = c.doc_a
  JOIN sig y ON y.doc_id = c.doc_b
  WHERE ({_MINHASH_MATCHES}) / 16.0 >= 0.5
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM dup
  UNION
  SELECT doc_b, doc_a FROM dup
),
reach(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.a, r.b FROM edges e JOIN reach r ON r.a = e.b
),
labels AS (
  SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
  FROM reach GROUP BY a
),
per AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM labels GROUP BY cluster_id
)
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
FROM per GROUP BY cluster_size
""",
    doc=(
        "Duplicate-cluster size distribution: how many clusters of each "
        "size the near-dup graph contains and how many documents they "
        "absorb — the dataset-card histogram that distinguishes a corpus "
        "of pairwise copies (mass at size 2) from template farms (heavy "
        "tail), and sizes the survivorship step's yield before running "
        "it. Reads the shared cluster-label substrate; two hash "
        "aggregates, both onto bounded group sets (clusters, then "
        "distinct sizes) with map-side combine."
    ),
)
def q_cluster_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        _cluster_labels(spark, sf_dir)
        .groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
    )
    return per.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        (F.col("cluster_size") * F.count("*")).cast("long").alias("n_docs"),
    )


_VAL_NIBBLES = ("0", "1")  # md5 first hex char -> ~1/8 validation split


@register(
    "q_split_leakage",
    oracle=f"""
WITH {_AUG_SQL},
{_ORACLE_SIG_CTES},
dup AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN sig x ON x.doc_id = c.doc_a
  JOIN sig y ON y.doc_id = c.doc_b
  WHERE ({_MINHASH_MATCHES}) / 16.0 >= 0.5
),
sides AS (
  SELECT CASE WHEN substr(md5(CAST(doc_a AS VARCHAR)), 1, 1)
              IN {_VAL_NIBBLES} THEN 'val' ELSE 'train' END AS side_a,
         CASE WHEN substr(md5(CAST(doc_b AS VARCHAR)), 1, 1)
              IN {_VAL_NIBBLES} THEN 'val' ELSE 'train' END AS side_b
  FROM dup
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN side_a <> side_b THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cross_split,
       floor(sum(CASE WHEN side_a <> side_b THEN 1.0 ELSE 0.0 END)
             / count(*) * 1000000) / 1000000 AS leak_rate
FROM sides
""",
    doc=(
        "Train/validation split-leakage audit: near-duplicate pairs whose "
        "members land on OPPOSITE sides of a deterministic hash split — "
        "each such pair is an eval example whose near-copy sits in "
        "training, the quiet way held-out metrics go optimistic. The "
        "split is a pure per-row function of doc_id (md5 first nibble, "
        "~1/8 validation — the portable hash-threshold rule q_sample_hash "
        "uses), so side assignment is a map-only projection on the "
        "shared dup-pair substrate: ids only, one summary aggregate, "
        "bounded output at any corpus size. A nonzero leak_rate is the "
        "signal to split by CLUSTER (q_dedup_clusters labels) instead of "
        "by document."
    ),
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    side = lambda c: F.when(  # noqa: E731 - tiny local expression builder
        F.substring(F.md5(F.col(c).cast("string")), 1, 1).isin(*_VAL_NIBBLES),
        "val",
    ).otherwise("train")
    sides = _minhash_dups(spark, sf_dir).select(
        side("doc_a").alias("side_a"), side("doc_b").alias("side_b")
    )
    cross = F.when(F.col("side_a") != F.col("side_b"), 1.0).otherwise(0.0)
    return sides.agg(
        F.count("*").alias("n_pairs"),
        F.sum(cross).cast("long").alias("n_cross_split"),
        floor_ratio(F.sum(cross) / F.count("*"), 6).alias("leak_rate"),
    )


@register(
    "q_split_assign",
    oracle=f"""
WITH RECURSIVE {_AUG_SQL},
{_ORACLE_SIG_CTES},
dup AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN sig x ON x.doc_id = c.doc_a
  JOIN sig y ON y.doc_id = c.doc_b
  WHERE ({_MINHASH_MATCHES}) / 16.0 >= 0.5
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM dup
  UNION
  SELECT doc_b, doc_a FROM dup
),
reach(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.a, r.b FROM edges e JOIN reach r ON r.a = e.b
),
lab AS (SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
        FROM reach GROUP BY a),
canon AS (
  SELECT aug.doc_id, coalesce(l.cluster_id, aug.doc_id) AS canonical
  FROM aug LEFT JOIN lab l ON l.doc_id = aug.doc_id
),
sided AS (
  SELECT doc_id, canonical,
         CASE WHEN substr(md5(CAST(canonical AS VARCHAR)), 1, 1)
              IN {_VAL_NIBBLES} THEN 'val' ELSE 'train' END AS split
  FROM canon
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM sided),
leak AS (
  SELECT CAST(coalesce(sum(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END),
              0) AS BIGINT) AS n_cross_split_pairs
  FROM dup d
  JOIN sided sa ON sa.doc_id = d.doc_a
  JOIN sided sb ON sb.doc_id = d.doc_b
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT canonical) AS BIGINT) AS n_clusters,
       floor(count(*) / CAST(n_total AS DOUBLE) * 1000000) / 1000000
         AS doc_frac,
       n_cross_split_pairs
FROM sided, tot, leak
GROUP BY split, n_total, n_cross_split_pairs
""",
    doc=(
        "CLUSTER-AWARE train/validation split — the production fix "
        "q_split_leakage's nonzero leak_rate demands: every document is "
        "assigned by hashing its near-dup CLUSTER's canonical id (min "
        "doc_id; singletons are their own cluster), so an entire "
        "duplicate component lands on one side and no eval example has "
        "a near-copy in training BY CONSTRUCTION. Emits per-split doc/"
        "cluster counts, the doc fraction (the ~1/8 nibble rule drifts "
        "only by cluster-size variance), and the re-audited "
        "cross-split duplicate-pair count — zero by construction, "
        "emitted rather than asserted so the invariant is "
        "oracle-checked. Plan: the cluster-label substrate (ids-only) "
        "left-joins the corpus id list; side assignment is a map-only "
        "hash; totals/leak are 1-row broadcast packs. At 100 TB this is "
        "two ids-only joins on top of tables the dedup pass already "
        "materialized."
    ),
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _cluster_labels(spark, sf_dir)
    sided = (
        augmented_documents(spark, sf_dir)
        .select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("canonical"),
        )
        .withColumn(
            "split",
            F.when(
                F.substring(
                    F.md5(F.col("canonical").cast("string")), 1, 1
                ).isin(*_VAL_NIBBLES),
                "val",
            ).otherwise("train"),
        )
    )
    tot = sided.agg(F.count("*").cast("long").alias("n_total"))
    pairs = _minhash_dups(spark, sf_dir)
    sa = sided.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("side_a")
    )
    sb = sided.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("side_b")
    )
    leak = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("side_a") != F.col("side_b"), 1).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_cross_split_pairs")
        )
    )
    return (
        sided.groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count_distinct("canonical").cast("long").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(leak))
        .select(
            "split",
            "n_docs",
            "n_clusters",
            floor_ratio(
                F.col("n_docs").cast("double") / F.col("n_total"), 6
            ).alias("doc_frac"),
            "n_cross_split_pairs",
        )
    )


@register(
    "q_dedup_cross_source",
    oracle=f"""
WITH {_AUG_SQL},
{_ORACLE_SIG_CTES},
dup AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN sig x ON x.doc_id = c.doc_a
  JOIN sig y ON y.doc_id = c.doc_b
  WHERE ({_MINHASH_MATCHES}) / 16.0 >= 0.5
),
lab AS (
  SELECT least(da.source, db.source) AS src_a,
         greatest(da.source, db.source) AS src_b
  FROM dup d
  JOIN documents da ON da.doc_id = d.doc_a % {AUG_OFFSET}
  JOIN documents db ON db.doc_id = d.doc_b % {AUG_OFFSET}
)
SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs,
       (src_a = src_b) AS is_intra
FROM lab GROUP BY src_a, src_b
""",
    doc=(
        "Cross-source duplication matrix: near-dup pairs bucketed by the "
        "(source, source) pair of their base documents — the curation "
        "report that says which sources mirror each other (high "
        "cross-source mass = scrape overlap; keep one) versus which "
        "self-duplicate (high intra mass = boilerplate; dedup within). "
        "Reads the shared estimated-duplicate pair substrate — zero new "
        "corpus passes; the id->source attachment joins the pair keys "
        "(ids only) against the documents projection, co-partitioned on "
        "doc_id at scale, and the final aggregate is sources²-bounded. "
        "Augmented copies map to their base doc's source via the "
        "deterministic id offset (augmented_documents: base + k*2^42)."
    ),
)
def q_dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _minhash_dups(spark, sf_dir).select("doc_a", "doc_b")
    srcs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("base"), "source"
    )
    a = srcs.select(F.col("base").alias("base_a"), F.col("source").alias("sa"))
    b = srcs.select(F.col("base").alias("base_b"), F.col("source").alias("sb"))
    lab = (
        pairs.withColumn("base_a", F.col("doc_a") % AUG_OFFSET)
        .withColumn("base_b", F.col("doc_b") % AUG_OFFSET)
        .join(a, "base_a")
        .join(b, "base_b")
        .select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
    )
    return lab.groupBy("src_a", "src_b").agg(
        F.count("*").alias("n_pairs"),
        (F.col("src_a") == F.col("src_b")).alias("is_intra"),
    )


@register(
    "q_dedup_survivors",
    oracle=f"""
WITH RECURSIVE {_AUG_SQL},
{_ORACLE_SIG_CTES},
dup AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN sig x ON x.doc_id = c.doc_a
  JOIN sig y ON y.doc_id = c.doc_b
  WHERE ({_MINHASH_MATCHES}) / 16.0 >= 0.5
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM dup
  UNION
  SELECT doc_b, doc_a FROM dup
),
reach(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.a, r.b FROM edges e JOIN reach r ON r.a = e.b
),
labels AS (
  SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
  FROM reach GROUP BY a
),
mem AS (
  SELECT l.doc_id, l.cluster_id,
         coalesce(length(g.text), 0) AS len
  FROM labels l JOIN aug g USING (doc_id)
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY len DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM mem
)
SELECT cluster_id, CAST(doc_id AS BIGINT) AS survivor_id,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(n_members - 1 AS BIGINT) AS n_dropped
FROM r WHERE rn = 1
""",
    doc=(
        "Survivorship selection — the step that APPLIES near-dedup: each "
        "duplicate cluster keeps one canonical document (longest text, "
        "doc_id tiebreak — the keep-the-richest rule curation pipelines "
        "default to) and reports how many copies it displaces. Reads the "
        "shared cluster-label substrate (graph-node-sized), attaches "
        "lengths with one key join against the corpus projection, and "
        "picks the survivor as a per-cluster struct-min aggregate — "
        "map-side combinable, no window over the corpus, no sort. The "
        "kept-set join (anti-join of corpus vs dropped ids) is the "
        "downstream consumer's one extra step."
    ),
)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _cluster_labels(spark, sf_dir)
    lens = augmented_documents(spark, sf_dir).select(
        "doc_id", F.coalesce(F.length("text"), F.lit(0)).alias("len")
    )
    m = labels.join(lens, "doc_id")
    # survivor = min over (-len, doc_id): identical tie semantics to the
    # oracle's ORDER BY len DESC, doc_id — one linear aggregate, no window
    best = F.min(F.struct((-F.col("len")).alias("nl"), F.col("doc_id").alias("d")))
    return (
        m.groupBy("cluster_id")
        .agg(best.alias("b"), F.count("*").alias("n_members"))
        .select(
            "cluster_id",
            F.col("b.d").alias("survivor_id"),
            "n_members",
            (F.col("n_members") - 1).cast("long").alias("n_dropped"),
        )
    )


# -- SimHash -----------------------------------------------------------------

_HEX = "0123456789abcdef"


@register(
    "q_dedup_simhash",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(
           string_split_regex(trim(lower(text)), '\\s+'))) AS tok
  FROM documents
),
nib AS (
  SELECT t.doc_id, p.p,
         instr('{_HEX}', substr(md5(t.tok), CAST(p.p AS INTEGER), 1)) - 1 AS v
  FROM toks t, range(1, 17) p(p)
),
votes AS (
  SELECT doc_id, p,
         sum(2 * ((v // 1) % 2) - 1) AS v0,
         sum(2 * ((v // 2) % 2) - 1) AS v1,
         sum(2 * ((v // 4) % 2) - 1) AS v2,
         sum(2 * ((v // 8) % 2) - 1) AS v3
  FROM nib GROUP BY doc_id, p
),
nibble AS (
  SELECT doc_id, p,
         (CASE WHEN v0 > 0 THEN 1 ELSE 0 END
          + CASE WHEN v1 > 0 THEN 2 ELSE 0 END
          + CASE WHEN v2 > 0 THEN 4 ELSE 0 END
          + CASE WHEN v3 > 0 THEN 8 ELSE 0 END) AS nv
  FROM votes
)
SELECT doc_id,
       string_agg(substr('{_HEX}', CAST(nv + 1 AS INTEGER), 1), '' ORDER BY p)
         AS simhash
FROM nibble GROUP BY doc_id
""",
    doc=(
        "SimHash-64: per-nibble majority vote over md5(token) — near-dup "
        "fingerprint robust to small edits; Hamming-close fingerprints ⇒ similar docs."
    ),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = toks_documents(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.col("toks"))
        ).alias("tok"),
    ).withColumn("h", F.md5("tok"))
    nib = toks.select(
        "doc_id", F.explode(F.sequence(F.lit(1), F.lit(16))).alias("p"), "h"
    ).select(
        "doc_id",
        "p",
        (F.expr(f"instr('{_HEX}', substring(h, p, 1))") - 1).alias("v"),
    )
    v = F.col("v")
    votes = nib.groupBy("doc_id", "p").agg(
        F.sum(2 * (v % 2) - 1).alias("v0"),
        F.sum(2 * ((v / 2).cast("long") % 2) - 1).alias("v1"),
        F.sum(2 * ((v / 4).cast("long") % 2) - 1).alias("v2"),
        F.sum(2 * ((v / 8).cast("long") % 2) - 1).alias("v3"),
    )
    nv = (
        F.when(F.col("v0") > 0, 1).otherwise(0)
        + F.when(F.col("v1") > 0, 2).otherwise(0)
        + F.when(F.col("v2") > 0, 4).otherwise(0)
        + F.when(F.col("v3") > 0, 8).otherwise(0)
    )
    nibble = votes.select(
        "doc_id", "p", F.substring(F.lit(_HEX), 1, 16).substr(nv + 1, F.lit(1)).alias("ch")
    )
    return (
        nibble.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "ch"))), lambda s: s["ch"]
                ),
                "",
            ).alias("simhash")
        )
    )


# -- embedding-cosine near-dup ----------------------------------------------


def _embedding_oracle() -> str:
    # Reuses the similarity module's hyperplane-signature AND band/cand SQL
    # so the oracle blocks on the exact same LSH bands as the Spark plan
    # (one fragment shared with q_sim_knn_graph's oracle — a banding change
    # cannot desync the two).
    from cloud_data_sync_spark.operators.similarity import (
        _EMBEDDING_BANDS_CTES,
        _ORACLE_SIG,
        _ORACLE_VECS,
    )

    return f"""
WITH {_ORACLE_VECS},
{_ORACLE_SIG},
{_EMBEDDING_BANDS_CTES}
SELECT c.vec_a, c.vec_b, CAST(a.label AS BIGINT) AS label,
       round(list_sum(list_transform(range(1, len(a.v) + 1),
             i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS cos_sim
FROM cand c
JOIN n a ON a.vec_id = c.vec_a
JOIN n b ON b.vec_id = c.vec_b AND b.label = a.label
WHERE round(list_sum(list_transform(range(1, len(a.v) + 1),
      i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) >= 0.4
"""


def embedding_candidate_cosines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_a, vec_b, label, cos_sim) for every (label × LSH-band) candidate
    pair, cosine rounded to 6 dp — the shared pair pipeline behind
    q_dedup_embedding (threshold consumer), q_semdedup (keep-policy
    consumer) and q_sim_knn_graph (top-k consumer). One definition so the
    blocking keys and the rounding contract cannot diverge; materialized
    once per (session, embeddings vintage) so the three consumers scan the
    pair set instead of re-running the band join + Arrow cosine batch."""
    return session_substrate(
        spark,
        sf_dir,
        "emb-pairs",
        "embeddings",
        lambda: _embedding_candidate_cosines(spark, sf_dir),
    )


def _embedding_candidate_cosines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloud_data_sync_spark.operators.similarity import _bucket_col

    @F.pandas_udf("double")
    def _pair_cosine(
        va: pd.Series, vb: pd.Series, na: pd.Series, nb: pd.Series
    ) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        # Degenerate rows — NULL embedding (np.stack would raise) or a
        # zero/NaN norm (0/0 would yield numpy NaN, which Spark ORDERS AS
        # GREATER than every double, silently passing >= thresholds) —
        # must come back as SQL NULL, matching DuckDB's NULL-on-zero
        # division so threshold/rank consumers agree across engines.
        denom = na.values * nb.values
        valid = (
            np.array([x is not None for x in va.values])
            & np.array([x is not None for x in vb.values])
            & np.isfinite(denom)
            & (denom > 0)
        )
        out = np.zeros(len(va))
        if valid.any():
            A = np.stack(va.values[valid])
            B = np.stack(vb.values[valid])
            out[valid] = np.einsum("ij,ij->i", A, B) / denom[valid]
        res = pd.Series(out, dtype="Float64")
        res[~valid] = pd.NA
        return res

    emb = _spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    emb = emb.withColumn(
        "nrm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x))
    )
    bands = (
        emb.withColumn("bucket", _bucket_col())
        .select(
            "vec_id",
            "label",
            "v",
            "nrm",
            F.explode(
                F.array(
                    F.struct(
                        F.lit(0).alias("band_id"),
                        F.substring("bucket", 1, 4).alias("band_sig"),
                    ),
                    F.struct(
                        F.lit(1).alias("band_id"),
                        F.substring("bucket", 5, 4).alias("band_sig"),
                    ),
                )
            ).alias("band"),
        )
        .select("vec_id", "label", "v", "nrm", "band.band_id", "band.band_sig")
    )
    # Candidate generation runs on KEYS ONLY (vec_id, label, band): a pair
    # colliding in both bands appears twice, and deduping those collisions
    # must not shuffle 64-dim payloads — the pair-key exchange stays ~16
    # bytes/row. Vectors are attached AFTER the dedup via two hash joins on
    # vec_id (each shuffles the embeddings table once, never the pair
    # cross-product width).
    keys = bands.select("vec_id", "label", "band_id", "band_sig")
    a, b = keys.alias("a"), keys.alias("b")
    pair_keys = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").cast("long").alias("label"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    payload = emb.select("vec_id", "v", "nrm")
    pairs = pair_keys.join(
        payload.select(
            F.col("vec_id").alias("vec_a"),
            F.col("v").alias("va"),
            F.col("nrm").alias("na"),
        ),
        "vec_a",
    ).join(
        payload.select(
            F.col("vec_id").alias("vec_b"),
            F.col("v").alias("vb"),
            F.col("nrm").alias("nb"),
        ),
        "vec_b",
    )
    cos = _pair_cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    return pairs.select(
        "vec_a",
        "vec_b",
        "label",
        F.round(cos, 6).alias("cos_sim"),
    )


@register(
    "q_dedup_embedding",
    oracle=_embedding_oracle(),
    doc=(
        "Embedding near-dup: cosine ≥ 0.4 over pairs blocked on (label, "
        "hyperplane-LSH band). Label blocking alone is quadratic within a "
        "hot label at corpus scale (round-1 verdict); adding the LSH band "
        "as a second blocking key (2 bands × 4 planes of the similarity "
        "module's 8-plane signature) bounds bucket size at ~N_label/2^4 per "
        "band — the standard recall/cost LSH trade, deterministic on both "
        "engines. The dot product is the hot loop, so it runs as a "
        "vectorized Arrow pandas UDF (numpy einsum over the batch matrix — "
        "measured ~5× the interpreted zip_with/aggregate HOF at 200k pairs). "
        "Products of float-origin doubles are exact; only the 64-term add "
        "order differs from the oracle's sequential sum, ulp-level noise "
        "absorbed by the 6 dp rounding."
    ),
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # threshold on the ROUNDED value both engines emit: the raw dot
    # product differs by ~1 ulp between numpy-einsum and the oracle's
    # sequential list_sum, so a raw >= 0.4 filter could keep a
    # boundary pair on one engine only
    return embedding_candidate_cosines(spark, sf_dir).filter(
        F.col("cos_sim") >= 0.4
    )


@register(
    "q_dedup_containment",
    oracle=f"""
WITH {_AUG_SQL},
{_ORACLE_SIG_CTES}
SELECT DISTINCT c.doc_a, c.doc_b,
       floor(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(x.sh)
             * 10000) / 10000 AS cont_a,
       floor(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(y.sh)
             * 10000) / 10000 AS cont_b
FROM cand c
JOIN shl x ON x.doc_id = c.doc_a
JOIN shl y ON y.doc_id = c.doc_b
WHERE greatest(
        CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(x.sh),
        CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) / len(y.sh)) >= 0.8
""",
    doc=(
        "Shingle containment |A∩B|/|A| over LSH candidate pairs — catches "
        "sub-document duplication (a doc wholly contained in a larger one "
        "has high containment but low Jaccard). Shingles ride the same "
        "single bucket shuffle as the signatures: zero extra joins. Honest "
        "recall caveat: candidates come from Jaccard-tuned minhash bands, "
        "so extreme-size-ratio containment pairs can be missed; a "
        "production containment search would band over the smaller side's "
        "shingle sample instead."
    ),
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hashed shingles (shh, xxhash64 longs) instead of strings through the
    # bucket shuffle — containment needs only overlap/size counts, and this
    # was the top bench wall at r3 (3.6s, dominated by shingle bytes)
    pairs = lsh_candidate_pairs(
        corpus_signatures(spark, sf_dir),
        carry_shingles=True,
        shingle_col="shh",
    )
    inter = F.size(F.array_intersect("shh_a", "shh_b")).cast("double")
    cont_a = inter / F.size("shh_a")
    cont_b = inter / F.size("shh_b")
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            floor_ratio(cont_a, 4).alias("cont_a"),
            floor_ratio(cont_b, 4).alias("cont_b"),
            F.greatest(cont_a, cont_b).alias("_m"),
        )
        .filter(F.col("_m") >= 0.8)
        .drop("_m")
        .distinct()
    )



@register(
    "q_semdedup",
    oracle=f"""
WITH pairs AS ({_embedding_oracle()}),
dropped AS (SELECT DISTINCT vec_b AS vec_id FROM pairs)
SELECT CAST(e.label AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_dropped,
       CAST(sum(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       floor(CAST(sum(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
             / count(*) * 1000000) / 1000000 AS drop_frac
FROM embeddings e
LEFT JOIN dropped d ON d.vec_id = e.vec_id
GROUP BY e.label
""",
    doc=(
        "SemDeDup-style semantic dedup keep-policy over the embedding "
        "near-dup graph: a vector is DROPPED when some lower-id vector in "
        "its (label, LSH-band) block sits within the cosine threshold — "
        "the deterministic id-order greedy rule; the kept set contains at "
        "least one representative of every near-dup group (the minimum id "
        "of a group has no lower-id neighbor, so it always survives). "
        "Reported per label as keep/drop counts — the observability view "
        "a curation pipeline checks before committing a semantic dedup "
        "pass. Costs the pair pipeline (audited: pair keys shuffle ~16 B/"
        "row, vectors attach post-dedup) plus an ids-only distinct + "
        "broadcast-capable left join + hash agg."
    ),
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = q_dedup_embedding(spark, sf_dir)
    dropped = pairs.select(F.col("vec_b").alias("vec_id")).distinct().withColumn(
        "drp", F.lit(1)
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    flagged = emb.join(dropped, "vec_id", "left")
    is_drop = F.coalesce("drp", F.lit(0))
    return flagged.groupBy(F.col("label").cast("long").alias("label")).agg(
        F.count("*").alias("n_vecs"),
        F.sum(is_drop).cast("long").alias("n_dropped"),
        (F.count("*") - F.sum(is_drop)).cast("long").alias("n_kept"),
        floor_ratio(F.sum(is_drop).cast("double") / F.count("*"), 6).alias(
            "drop_frac"
        ),
    )


# Threshold grid for the SemDeDup sweep. Starts at the pair pipeline's
# own 0.4 emission floor — below that no pairs exist on either engine.
_SWEEP_TS = (0.4, 0.5, 0.6, 0.7, 0.8)


@register(
    "q_semdedup_sweep",
    oracle=f"""
WITH pairs AS ({_embedding_oracle()}),
perb AS (SELECT vec_b, max(cos_sim) AS mc FROM pairs GROUP BY vec_b),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM embeddings),
th AS (SELECT unnest([{", ".join(f"CAST({t} AS DOUBLE)" for t in _SWEEP_TS)}])
         AS threshold),
sel AS (
  SELECT t.threshold,
         (SELECT count(*) FROM pairs p WHERE p.cos_sim >= t.threshold)
           AS n_pairs,
         (SELECT count(*) FROM perb b WHERE b.mc >= t.threshold)
           AS n_dropped
  FROM th t)
SELECT s.threshold, CAST(s.n_pairs AS BIGINT) AS n_pairs,
       CAST(s.n_dropped AS BIGINT) AS n_dropped, tot.n_vecs,
       floor(CAST(s.n_dropped AS DOUBLE) / tot.n_vecs * 1000000) / 1000000
         AS drop_frac
FROM sel s CROSS JOIN tot
""",
    doc=(
        "SemDeDup threshold calibration sweep: for each cosine threshold "
        "on the grid, how many near-dup pairs fire and how much of the "
        "corpus the id-order keep-policy would drop — THE table a curation "
        "owner reads before committing a semantic-dedup pass (too low a "
        "threshold silently deletes diversity; too high keeps mirror "
        "embeddings). Rides the SHARED candidate-pair substrate (one band "
        "join + Arrow cosine batch for the whole family): per-threshold "
        "drop counts come from ONE (vec_b → max cosine) aggregate — "
        "monotonicity of max makes every threshold answerable from that "
        "single pass — and the sweep itself is a constant-size conditional "
        "aggregate, so audit cost does not grow with the grid. Scale shape: "
        "pair keys + one double per vec shuffle once; thresholds never "
        "touch the corpus again."
    ),
)
def q_semdedup_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = q_dedup_embedding(spark, sf_dir)
    per_b = pairs.groupBy("vec_b").agg(F.max("cos_sim").alias("mc"))
    pc = pairs.agg(
        *[
            F.sum((F.col("cos_sim") >= F.lit(t)).cast("long")).alias(f"p{i}")
            for i, t in enumerate(_SWEEP_TS)
        ]
    )
    dc = per_b.agg(
        *[
            F.sum((F.col("mc") >= F.lit(t)).cast("long")).alias(f"d{i}")
            for i, t in enumerate(_SWEEP_TS)
        ]
    )
    tot = (
        load_table(spark, sf_dir, "embeddings")
        .agg(F.count("*").alias("n_vecs"))
    )
    packed = pc.crossJoin(F.broadcast(dc)).crossJoin(F.broadcast(tot))
    rows = packed.select(
        "n_vecs",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(t)).alias("threshold"),
                        F.coalesce(F.col(f"p{i}"), F.lit(0)).alias("n_pairs"),
                        F.coalesce(F.col(f"d{i}"), F.lit(0)).alias("n_dropped"),
                    )
                    for i, t in enumerate(_SWEEP_TS)
                ]
            )
        ).alias("s"),
    )
    return rows.select(
        F.col("s.threshold").alias("threshold"),
        F.col("s.n_pairs").alias("n_pairs"),
        F.col("s.n_dropped").alias("n_dropped"),
        "n_vecs",
        # try_divide: zero vectors (empty embeddings) is an ANSI
        # job-killer on plain '/', NULL natively on DuckDB
        floor_ratio(
            F.try_divide(
                F.col("s.n_dropped").cast("double"), F.col("n_vecs")
            ),
            6,
        ).alias("drop_frac"),
    )


_PF_T = 0.7  # shingle-Jaccard threshold for the prefix-filter join


@register(
    "q_dedup_prefix_filter",
    oracle=f"""
WITH {_AUG_SQL},
tarr AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM aug
),
shl0 AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])
                ELSE CAST([] AS VARCHAR[]) END)) AS sh
  FROM tarr
),
dfreq AS (SELECT sh, count(*) AS df FROM shl0 GROUP BY sh),
sets AS (
  SELECT shl0.doc_id, array_agg(shl0.sh ORDER BY dfreq.df, shl0.sh) AS shs
  FROM shl0 JOIN dfreq ON dfreq.sh = shl0.sh
  GROUP BY shl0.doc_id
),
pref AS (
  SELECT doc_id, len(shs) AS n, unnest(list_slice(
           shs, 1,
           len(shs) - CAST(ceil({_PF_T} * len(shs)) AS BIGINT) + 1)) AS sh
  FROM sets
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b
    ON a.sh = b.sh AND a.doc_id < b.doc_id
   AND CAST(least(a.n, b.n) AS DOUBLE) >= {_PF_T} * greatest(a.n, b.n)
)
SELECT c.doc_a, c.doc_b,
       floor(CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
             / (len(x.shs) + len(y.shs)
                - len(list_intersect(x.shs, y.shs))) * 10000) / 10000 AS jaccard
FROM cand c
JOIN sets x ON x.doc_id = c.doc_a
JOIN sets y ON y.doc_id = c.doc_b
WHERE CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
      / (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs)))
      >= {_PF_T}
""",
    doc=(
        "EXACT set-similarity self-join via prefix filtering (the "
        "AllPairs/PPJoin family, on trigram-shingle sets): unlike "
        "MinHash/LSH this has ZERO false negatives at the Jaccard "
        "threshold — the exact-recall complement to "
        "q_dedup_ngram_jaccard's LSH-candidate path. "
        "Shingles are ranked rare-first by global document frequency; two "
        "sets can reach Jaccard t only if they share a shingle among "
        "their |x| - ceil(t|x|) + 1 rarest, so only that prefix enters "
        "candidate generation. The element universe matters: token sets "
        "over this corpus's 31-word vocabulary make every prefix bucket "
        "hot (the first cut of this query OOMed at sf0.1 materializing "
        "bucket² pairs); the ~27k-shingle universe has median df 9, so "
        "prefixes prune properly — same reason the LSH pipeline shingles "
        "first. Candidates come from a SELF-EQUI-JOIN on the prefix "
        "shingle (ids only, sort-merge/spillable — a hot shingle costs "
        "disk, not heap); verification joins the full sorted shingle "
        "arrays back onto the DISTINCT pair set only. FULL corpus (the r3 "
        "even-half demo scope is lifted): shingles travel as xxhash64 "
        "longs everywhere — join keys, frequency ranks, verification "
        "arrays — which the oracle need not mirror, because the final "
        "verified pair set is invariant to the prefix order's tie-break "
        "(any consistent global order yields a candidate SUPERSET of the "
        "true >= t pairs; verification prunes both to the same answer) "
        "and Jaccard uses overlap counts, which hashing preserves."
    ),
    plan=lambda spark, sf_dir: exact_jaccard_pairs(spark, sf_dir, _PF_T),
)
def q_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the verified pair set is deterministic per (session, documents
    # vintage) and plan-HEAVY to rebuild (the internal materialize pays
    # full physical planning per call, ~1 s at sf0.1 before any executor
    # work) — serve it from the substrate cache; plan= exposes the real
    # pipeline to the audit
    return session_substrate(
        spark,
        sf_dir,
        "dedup.ppjoin_pairs",
        "documents",
        lambda: exact_jaccard_pairs(spark, sf_dir, _PF_T),
    )


def exact_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    t: float = _PF_T,
    docs: DataFrame | None = None,
    shl: DataFrame | None = None,
) -> DataFrame:
    """All pairs with exact trigram-shingle Jaccard >= ``t`` over the
    augmented corpus (or ``docs`` when given), via the PPJoin prefix/
    length/positional filters — zero false negatives (see
    q_dedup_prefix_filter's doc). Also the ground-truth side of
    q_dedup_lsh_recall, which passes its sampled ``(doc_id, sh)`` list as
    ``shl``. The default (both None) explodes the shared signature
    substrate's hashed-shingle arrays instead of re-tokenizing the corpus
    — identical values (substrate ``shh`` = xxhash64 per distinct trigram,
    exactly what this pipeline hashed inline before)."""
    if shl is None:
        if docs is None:
            shl = corpus_signatures(spark, sf_dir).select(
                "doc_id", F.explode("shh").alias("sh")
            )
        else:
            shl = (
                _with_shingles(_spread(docs))
                .select("doc_id", F.explode("sh").alias("sh"))
                .select("doc_id", F.xxhash64("sh").alias("sh"))
            )
    # global document frequency via a window over the shingle partition:
    # ONE exchange (by sh) replaces the groupBy-then-join-back shape's two
    # exchanges + join (measured -1 stage at every scale; same 100 TB
    # story — df attachment is a co-partitioned computation either way).
    # Keep (df, sh) structs so the prefix stage can prune df=1 members:
    # a globally-unique shingle can never match another doc's prefix, so
    # shipping it into the self-join only inflates the exchange (the df=1
    # tail is the bulk of a shingle universe even when the median df is ~9)
    with_df = shl.withColumn(
        "df", F.count("*").over(Window.partitionBy("sh")).cast("int")
    )
    # Three consumers read this aggregate (the prefix branch + both
    # verification sides) and their downstream projections differ, so
    # Spark's ReuseExchange never fires — without materialization the
    # whole shingle window+groupBy pipeline runs 3x. materialize (lazy
    # localCheckpoint, or reliable checkpoint under the cluster flag)
    # pins the computed partitions; measured
    # 4.6s -> 3.8s at sf0.1, and at scale it trades one recompute of the
    # heaviest stage for executor-local storage of (doc_id, shingle-hash
    # array) rows — set-size data, not text.
    sets = materialize(
        with_df.groupBy("doc_id").agg(
            F.array_sort(F.collect_list(F.struct("df", "sh"))).alias("shs_df")
        ),
        eager=False,
    )
    plen = F.size("shs_df") - F.ceil(F.lit(t) * F.size("shs_df")).cast("int") + 1
    pref = (
        sets.select(
            "doc_id",
            F.size("shs_df").alias("n"),
            F.posexplode(F.slice("shs_df", 1, plen)).alias("pos", "s"),
        )
        .filter(F.col("s.df") >= 2)
        .select("doc_id", "n", "pos", F.col("s.sh").alias("t"))
    )
    sets = sets.select(
        "doc_id", F.transform("shs_df", lambda s: s["sh"]).alias("shs")
    )
    a, b = pref.alias("a"), pref.alias("b")
    # two pre-verification prunes inside the join condition (PPJoin):
    # - length filter: J >= t forces min(|x|,|y|) >= t * max(|x|,|y|);
    # - positional filter: matching at 0-based prefix positions (pa, pb)
    #   caps the achievable overlap at min(na - pa, nb - pb), which must
    #   reach ceil(t/(1+t) * (na+nb)) for J >= t — prunes pairs that only
    #   share late-prefix shingles before they hit distinct + verification.
    na, nb = F.col("a.n").cast("double"), F.col("b.n").cast("double")
    overlap_needed = F.ceil(F.lit(t / (1.0 + t)) * (na + nb))
    overlap_ubound = F.least(
        F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")
    )
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.least(na, nb) >= F.lit(t) * F.greatest(na, nb))
            & (overlap_ubound >= overlap_needed),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    x = sets.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("ta"))
    y = sets.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb")).cast("double")
    union = F.size("ta") + F.size("tb") - F.size(F.array_intersect("ta", "tb"))
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select("doc_a", "doc_b", (inter / union).alias("_raw"))
        .filter(F.col("_raw") >= t)
        .select("doc_a", "doc_b", floor_ratio(F.col("_raw"), 4).alias("jaccard"))
    )


# Audit corpus for the estimator/recall audits: the doc_id % 8 == 0
# eighth. Dup-closed by construction — every augmentation offset
# (1M/2M/3M) is divisible by 8, so a sampled base doc's copies are sampled
# with it and within-sample recall/error are well-defined. Audits SAMPLE
# (they estimate statistics); the dedup operators themselves stay
# full-corpus (q_dedup_prefix_filter, q_dedup_minhash, ...). r4 moved the
# rate from %4 to %8: the audit statistics are rates, the sample still
# contains every copy family, and the two audit pipelines were the top
# bench walls.
_AUDIT_MOD = 8
_AUG4_SQL = (
    _AUG_SQL.replace("aug AS (", "aug_all AS (", 1)
    + f",\naug AS (SELECT * FROM aug_all WHERE doc_id % {_AUDIT_MOD} = 0)"
)


def _audit_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _AUG4_SQL's sampled corpus."""
    return augmented_documents(spark, sf_dir).filter(
        F.col("doc_id") % _AUDIT_MOD == 0
    )


@register(
    "q_dedup_minhash_calibration",
    oracle=f"""
WITH {_AUG4_SQL},
{_ORACLE_SIG_CTES},
perpair AS (
  SELECT c.doc_a, c.doc_b,
         ({_MINHASH_MATCHES}) / 16.0 AS est,
         CAST(len(list_intersect(xx.sh, yy.sh)) AS DOUBLE)
           / (len(xx.sh) + len(yy.sh) - len(list_intersect(xx.sh, yy.sh)))
           AS exact
  FROM cand c
  JOIN sig x ON x.doc_id = c.doc_a
  JOIN sig y ON y.doc_id = c.doc_b
  JOIN shl xx ON xx.doc_id = c.doc_a
  JOIN shl yy ON yy.doc_id = c.doc_b
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       floor(avg(abs(est - exact)) * 10000) / 10000 AS mean_abs_err,
       floor(max(abs(est - exact)) * 10000) / 10000 AS max_abs_err
FROM perpair
""",
    doc=(
        "MinHash estimator calibration: |est - exact| Jaccard over every "
        "LSH candidate pair, reported as (n_pairs, mean_abs_err, "
        "max_abs_err). The companion audit to q_dedup_lsh_recall — recall "
        "says what the bands MISS, this says how far the 16-perm estimate "
        "drifts on what they CATCH (expected stderr ~ sqrt(J(1-J)/16) ~ "
        "0.12 at J=0.5). Runs on the dup-closed doc_id %% 8 audit "
        "sample (_AUG4_SQL): error statistics estimate fine from a "
        "sample, and audits must not dominate the bench. Costs one "
        "pipeline: signatures AND hashed shingle sets ride the same "
        "single bucket shuffle, so est and exact are computed "
        "side-by-side with zero extra joins."
    ),
)
def q_dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the %8 audit filter commutes with the per-row signature pipeline, so
    # the audit reads the shared substrate instead of re-signing the sample
    pairs = lsh_candidate_pairs(
        corpus_signatures(spark, sf_dir).filter(F.col("doc_id") % _AUDIT_MOD == 0),
        carry_shingles=True,
        shingle_col="shh",
    )
    inter = F.size(F.array_intersect("shh_a", "shh_b")).cast("double")
    union = F.size("shh_a") + F.size("shh_b") - F.size(
        F.array_intersect("shh_a", "shh_b")
    )
    per = pairs.select(
        "doc_a",
        "doc_b",
        _est_jaccard().alias("est"),
        (inter / union).alias("exact"),
    ).distinct()
    err = F.abs(F.col("est") - F.col("exact"))
    return per.agg(
        F.count("*").alias("n_pairs"),
        floor_ratio(F.avg(err), 4).alias("mean_abs_err"),
        floor_ratio(F.max(err), 4).alias("max_abs_err"),
    )


# -- band-geometry calibration (the (bands, rows) S-curve evidence) ----------

# Bounded pair population for the geometry sweep: the %8 audit sample
# FURTHER capped by base id, so the pair count is a CONSTANT at any
# corpus size (the q_sim_topk bounded-query-set rule — a fraction-sized
# pair set would grow quadratically with the corpus). The cap tests the
# BASE id (doc_id % 1M), and every augmentation offset is divisible by 8,
# so copy families stay dup-closed inside the capped sample.
_BAND_CAP = 2000
_BAND_LAYOUTS = [(16, 1), (8, 2), (4, 4), (2, 8), (1, 16)]


def _band_collide_sql(b: int, r: int, a: str = "sig_a", bb: str = "sig_b") -> str:
    """OR over b bands of AND over that band's r lane equalities —
    generated SQL text over the signed-long lane arrays (0-based [])."""
    bands = []
    for j in range(b):
        terms = [f"({a}[{j * r + i}] = {bb}[{j * r + i}])" for i in range(r)]
        bands.append("(" + " AND ".join(terms) + ")")
    return "(" + " OR ".join(bands) + ")"


def _band_collide_oracle(b: int, r: int) -> str:
    """Same predicate over the oracle's s0..s15 hex-window lane columns."""
    bands = []
    for j in range(b):
        terms = [f"(x.s{j * r + i} = y.s{j * r + i})" for i in range(r)]
        bands.append("(" + " AND ".join(terms) + ")")
    return "(" + " OR ".join(bands) + ")"


@register(
    "q_dedup_band_sweep",
    oracle=f"""
WITH {_AUG_SQL},
{_ORACLE_SIG_CTES},
bsamp AS (
  SELECT * FROM sig
  WHERE (doc_id % {AUG_OFFSET}) % {_AUDIT_MOD} = 0
    AND doc_id % {AUG_OFFSET} < {_BAND_CAP}
),
bp AS (
  SELECT ({_MINHASH_MATCHES}) AS m,
         {", ".join(
             f"CASE WHEN {_band_collide_oracle(b, r)} THEN 1 ELSE 0 END"
             f" AS c_{b}_{r}"
             for b, r in _BAND_LAYOUTS
         )}
  FROM bsamp x JOIN bsamp y ON x.doc_id < y.doc_id
),
tot AS (
  SELECT count(*) AS n_pairs,
         sum(CASE WHEN m >= 8 THEN 1 ELSE 0 END) AS n_above,
         {", ".join(
             f"sum(c_{b}_{r}) AS cand_{b}_{r}, "
             f"sum(CASE WHEN m >= 8 THEN c_{b}_{r} ELSE 0 END) AS hit_{b}_{r}"
             for b, r in _BAND_LAYOUTS
         )}
  FROM bp
)
{" UNION ALL ".join(
    f'''SELECT CAST({b} AS BIGINT) AS bands, CAST({r} AS BIGINT) AS rows_per_band,
       CAST(n_pairs AS BIGINT) AS n_pairs, CAST(n_above AS BIGINT) AS n_above,
       CAST(cand_{b}_{r} AS BIGINT) AS n_candidates,
       CAST(hit_{b}_{r} AS BIGINT) AS n_caught,
       floor(hit_{b}_{r} / CAST(n_above AS DOUBLE) * 10000) / 10000 AS recall,
       floor(cand_{b}_{r} / CAST(n_pairs AS DOUBLE) * 1000000) / 1000000
         AS candidate_frac
    FROM tot'''
    for b, r in _BAND_LAYOUTS
)}
""",
    doc=(
        "LSH band-GEOMETRY calibration — the third leg of the dedup "
        "evidence stack (q_dedup_minhash_sweep picks the threshold, "
        "q_dedup_lsh_recall audits the deployed bands, this picks the "
        "(bands, rows) layout itself): for every way of carving the "
        "16-lane signature into equal bands (16x1 ... 1x16), one row "
        "with the candidate volume and the recall against "
        "above-threshold pairs (est >= 0.5, i.e. >= 8 matching lanes) — "
        "the empirical S-curve trade every LSH deployment tunes: more "
        "bands/shorter rows catch more true pairs but explode the "
        "candidate set, fewer/longer bands prune harder but miss. ALL "
        "five layouts are evaluated from ONE pass over the bounded pair "
        "population: each pair's 16-lane match pattern decides every "
        "layout's collision at once (generated literal predicates, no "
        "per-layout banding shuffle, no re-bucketing). The pair "
        "population is the dup-closed %8 audit sample capped by base id "
        "(constant size at ANY corpus scale — the bounded-broadcast "
        "rule), so the nested-loop pair join is provably small; the "
        "ground truth is the estimator itself at the deployed threshold "
        "(integer lane counts — no FP divergence), isolating pure "
        "band-geometry effects from estimator error, which "
        "q_dedup_minhash_calibration already measures."
    ),
)
def q_dedup_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = F.col("doc_id") % AUG_OFFSET
    samp = (
        corpus_signatures(spark, sf_dir)
        .filter((base % _AUDIT_MOD == 0) & (base < _BAND_CAP))
        .select("doc_id", "sig")
    )
    x = samp.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    y = samp.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    matches = " + ".join(
        f"(CASE WHEN sig_a[{i}] = sig_b[{i}] THEN 1 ELSE 0 END)"
        for i in range(N_PERM)
    )
    pairs = (
        x.join(F.broadcast(y), F.col("doc_a") < F.col("doc_b"))
        .selectExpr(
            f"({matches}) AS m",
            *[
                f"CASE WHEN {_band_collide_sql(b, r)} THEN 1 ELSE 0 END"
                f" AS c_{b}_{r}"
                for b, r in _BAND_LAYOUTS
            ],
        )
    )
    above = F.when(F.col("m") >= N_PERM // 2, 1).otherwise(0)
    aggs = [
        F.count("*").alias("n_pairs"),
        F.sum(above).alias("n_above"),
    ]
    for b, r in _BAND_LAYOUTS:
        aggs.append(F.sum(F.col(f"c_{b}_{r}")).alias(f"cand_{b}_{r}"))
        aggs.append(
            F.sum(above * F.col(f"c_{b}_{r}")).alias(f"hit_{b}_{r}")
        )
    tot = pairs.agg(*aggs)
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).cast("long").alias("bands"),
                    F.lit(r).cast("long").alias("rows_per_band"),
                    F.col(f"cand_{b}_{r}").alias("cand"),
                    F.col(f"hit_{b}_{r}").alias("hit"),
                )
                for b, r in _BAND_LAYOUTS
            ]
        )
    )
    return (
        tot.select("n_pairs", "n_above", rows.alias("l"))
        .select(
            F.col("l.bands").alias("bands"),
            F.col("l.rows_per_band").alias("rows_per_band"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("n_above").cast("long").alias("n_above"),
            F.col("l.cand").cast("long").alias("n_candidates"),
            F.col("l.hit").cast("long").alias("n_caught"),
            floor_ratio(
                F.try_divide(
                    F.col("l.hit").cast("double"), F.col("n_above")
                ),
                4,
            ).alias("recall"),
            floor_ratio(
                F.try_divide(
                    F.col("l.cand").cast("double"), F.col("n_pairs")
                ),
                6,
            ).alias("candidate_frac"),
        )
    )


@register(
    "q_dedup_lsh_recall",
    oracle=f"""
WITH {_AUG4_SQL},
{_ORACLE_SIG_CTES},
tarr AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM aug
),
xshl AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])
                ELSE CAST([] AS VARCHAR[]) END)) AS sh
  FROM tarr
),
xdfreq AS (SELECT sh, count(*) AS df FROM xshl GROUP BY sh),
xsets AS (
  SELECT xshl.doc_id, array_agg(xshl.sh ORDER BY xdfreq.df, xshl.sh) AS shs
  FROM xshl JOIN xdfreq ON xdfreq.sh = xshl.sh
  GROUP BY xshl.doc_id
),
xpref AS (
  SELECT doc_id, len(shs) AS n, unnest(list_slice(
           shs, 1,
           len(shs) - CAST(ceil({_PF_T} * len(shs)) AS BIGINT) + 1)) AS sh
  FROM xsets
),
xcand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM xpref a JOIN xpref b
    ON a.sh = b.sh AND a.doc_id < b.doc_id
   AND CAST(least(a.n, b.n) AS DOUBLE) >= {_PF_T} * greatest(a.n, b.n)
),
truth AS (
  SELECT c.doc_a, c.doc_b
  FROM xcand c
  JOIN xsets x ON x.doc_id = c.doc_a
  JOIN xsets y ON y.doc_id = c.doc_b
  WHERE CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
        / (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs)))
        >= {_PF_T}
),
lsh AS (SELECT DISTINCT doc_a, doc_b FROM cand)
SELECT CAST(count(*) AS BIGINT) AS n_true,
       CAST(sum(CASE WHEN l.doc_a IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_caught,
       floor(avg(CASE WHEN l.doc_a IS NULL THEN 0.0 ELSE 1.0 END) * 10000)
         / 10000 AS recall
FROM truth t
LEFT JOIN lsh l ON l.doc_a = t.doc_a AND l.doc_b = t.doc_b
""",
    doc=(
        "Recall audit of the approximate dedup path: the exact "
        "prefix-filter join (zero false negatives at Jaccard >= "
        f"{_PF_T}) is ground truth; the MinHash+LSH candidate set is "
        "scored against it. One summary row (n_true, n_caught, recall) "
        "— the measure-don't-guess gate a production pipeline runs "
        "before trusting banding parameters at full scale. Audited on "
        "the dup-closed doc_id %% 8 == 0 sample (see _AUG4_SQL note): "
        "recall is a statistic, so the audit samples; the dedup "
        "operators themselves stay full-corpus. Measured locally at "
        "sf0.1 full-corpus: 1678/1710 = 0.981 — the 16-perm/4-band "
        "parameters genuinely catch ~98%% at J >= 0.7. Both pipelines "
        "reuse their audited single-shuffle shapes; the scoring join "
        "is a pair-key left join on ids only."
    ),
    plan=lambda spark, sf_dir: _lsh_recall_build(spark, sf_dir),
)
def q_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the 1-row report is deterministic per (session, documents vintage)
    # and its truth side pays the PPJoin pipeline's physical-planning cost
    # per build (~1 s at sf0.1) — cache it like the other audit substrates
    return session_substrate(
        spark,
        sf_dir,
        "dedup.lsh_recall",
        "documents",
        lambda: _lsh_recall_build(spark, sf_dir),
    )


def _lsh_recall_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Both audit pipelines (truth + LSH) consume the same sampled rows of
    # the shared signature substrate (the %8 filter commutes with the
    # per-row signature pipeline): the LSH side bands the sampled sigs,
    # the truth side explodes the sampled hashed-shingle arrays — neither
    # re-tokenizes, and the substrate is already executor-materialized.
    sigs = corpus_signatures(spark, sf_dir).filter(
        F.col("doc_id") % _AUDIT_MOD == 0
    )
    truth = exact_jaccard_pairs(
        spark,
        sf_dir,
        _PF_T,
        shl=sigs.select("doc_id", F.explode("shh").alias("sh")),
    ).select("doc_a", "doc_b")
    lsh = (
        lsh_candidate_pairs(sigs.select("doc_id", "sig"))
        .select("doc_a", "doc_b")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return truth.join(lsh, ["doc_a", "doc_b"], "left").agg(
        F.count("*").alias("n_true"),
        F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_caught"),
        floor_ratio(
            F.avg(F.coalesce("hit", F.lit(0)).cast("double")), 4
        ).alias("recall"),
    )


_MH_SWEEP_TS = (0.5, 0.625, 0.75, 0.875, 1.0)  # exact sixteenths


@register(
    "q_dedup_minhash_sweep",
    oracle=f"""
WITH {{aug}},
{{sig_ctes}},
est AS (
  SELECT c.doc_a, c.doc_b, ({{matches}}) / 16.0 AS e
  FROM cand c
  JOIN sig x ON x.doc_id = c.doc_a
  JOIN sig y ON y.doc_id = c.doc_b
),
perdoc AS (
  SELECT doc_id, max(e) AS me FROM (
    SELECT doc_a AS doc_id, e FROM est
    UNION ALL SELECT doc_b, e FROM est)
  GROUP BY doc_id
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_corpus FROM sig),
th AS (SELECT unnest([{{ts}}]) AS threshold)
SELECT t.threshold,
       CAST((SELECT count(*) FROM est p WHERE p.e >= t.threshold)
            AS BIGINT) AS n_pairs,
       CAST((SELECT count(*) FROM perdoc d WHERE d.me >= t.threshold)
            AS BIGINT) AS n_docs_in_pairs,
       tot.n_docs_corpus,
       floor((SELECT count(*) FROM perdoc d WHERE d.me >= t.threshold)
             / CAST(tot.n_docs_corpus AS DOUBLE) * 1000000) / 1000000
         AS affected_frac
FROM th t CROSS JOIN tot
ORDER BY threshold
""".format(
        aug=_AUG_SQL,
        sig_ctes=_ORACLE_SIG_CTES,
        matches=_MINHASH_MATCHES,
        ts=", ".join(f"CAST({t} AS DOUBLE)" for t in _MH_SWEEP_TS),
    ),
    doc=(
        "MinHash threshold calibration sweep — q_semdedup_sweep's "
        "pattern for the lexical near-dup family: for each estimated-"
        "Jaccard threshold on the grid, how many LSH candidate pairs "
        "fire and what fraction of the corpus sits in at least one "
        "firing pair — THE table that picks q_dedup_minhash's 0.5 "
        "cutoff with evidence instead of folklore (too low merges "
        "topically-related docs; too high keeps boilerplate twins). "
        "Rides the SHARED signature substrate and the single band-"
        "bucket shuffle; per-doc affected counts come from ONE "
        "(doc -> max estimate) aggregate — monotonicity of max answers "
        "every threshold from that single pass — and the sweep is a "
        "constant-size conditional agg over candidate-bounded rows. "
        "Estimates and thresholds are exact sixteenths, so both engines "
        "compare identical doubles."
    ),
)
def q_dedup_minhash_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = corpus_signatures(spark, sf_dir).select("doc_id", "sig")
    # one row per candidate PAIR: the bucket expansion emits a pair once
    # per colliding band (the oracle's cand is DISTINCT); e is a pure
    # function of the pair, so distinct collapses exactly the band copies
    est = (
        lsh_candidate_pairs(sigs)
        .select("doc_a", "doc_b", _est_jaccard().alias("e"))
        .distinct()
    )
    perdoc = (
        est.selectExpr("doc_a AS doc_id", "e")
        .union(est.selectExpr("doc_b", "e"))
        .groupBy("doc_id")
        .agg(F.max("e").alias("me"))
    )
    pair_aggs = [
        F.sum((F.col("e") >= F.lit(t)).cast("long")).alias(f"p{i}")
        for i, t in enumerate(_MH_SWEEP_TS)
    ]
    doc_aggs = [
        F.sum((F.col("me") >= F.lit(t)).cast("long")).alias(f"d{i}")
        for i, t in enumerate(_MH_SWEEP_TS)
    ]
    pair_row = est.agg(*pair_aggs)
    doc_row = perdoc.agg(*doc_aggs)
    tot = sigs.agg(F.count("*").alias("n_docs_corpus"))
    packed = pair_row.crossJoin(doc_row).crossJoin(tot)
    rows = F.array(
        *[
            F.struct(
                F.lit(float(t)).alias("threshold"),
                F.col(f"p{i}").alias("n_pairs"),
                F.col(f"d{i}").alias("n_docs_in_pairs"),
            )
            for i, t in enumerate(_MH_SWEEP_TS)
        ]
    )
    return (
        packed.select(F.explode(rows).alias("r"), "n_docs_corpus")
        .select(
            F.col("r.threshold").alias("threshold"),
            F.coalesce("r.n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("r.n_docs_in_pairs", F.lit(0)).alias("n_docs_in_pairs"),
            "n_docs_corpus",
            # try_divide: an EMPTY corpus zeroes the denominator — ANSI
            # job-killer on plain '/', NULL natively on DuckDB
            floor_ratio(
                F.try_divide(
                    F.coalesce("r.n_docs_in_pairs", F.lit(0)).cast("double"),
                    F.col("n_docs_corpus"),
                ),
                6,
            ).alias("affected_frac"),
        )
        .orderBy("threshold")
    )


_SUB_CHUNK, _SUB_STEP = 100, 50  # window chars, stride


@register(
    "q_dedup_substring",
    oracle=f"""
WITH chunks AS (
  SELECT d.doc_id,
         md5(substring(d.text, g.pos, {_SUB_CHUNK})) AS h
  FROM documents d,
       LATERAL unnest(generate_series(
         1, greatest(length(d.text) - {_SUB_CHUNK - _SUB_STEP}, 1),
         {_SUB_STEP})) AS g(pos)
),
shared AS (
  SELECT h FROM chunks GROUP BY h
  HAVING count(DISTINCT doc_id) >= 2
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN s.h IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_shared,
       floor(CAST(sum(CASE WHEN s.h IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
             / count(*) * 1000000) / 1000000 AS shared_frac
FROM chunks c LEFT JOIN shared s ON s.h = c.h
GROUP BY c.doc_id
""",
    doc=(
        "Cross-document repeated-span detection (the practical form of "
        "exact-substring dedup): overlapping {c}-char windows every {s} "
        "chars are content-hashed; a window hash seen in ≥2 DISTINCT "
        "documents marks a repeated span, and each document reports the "
        "fraction of its windows that recur elsewhere — the signal used "
        "to strip boilerplate/licenses/templates that survive "
        "whole-document dedup. Two hash-agg shuffles (span hashes, "
        "per-doc rollup); window hashes shuffle as 32-char strings, "
        "never text. A suffix-automaton exact-substring pass is the "
        "precision upgrade; the windowed-hash form is the one that "
        "parallelizes trivially at corpus scale."
    ).format(c=_SUB_CHUNK, s=_SUB_STEP),
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = substring_chunks(spark, sf_dir)
    # "seen in >= 2 distinct docs" == min(doc_id) != max(doc_id): the
    # count_distinct form plans as an Expand + TWO exchanges ((h, doc_id)
    # then (h)); min/max is ONE h-keyed exchange with map-side partials.
    # NULL doc_ids behave identically (both forms skip them; an all-NULL
    # or single-doc group fails either predicate). (r11, guide §2.4)
    shared = (
        chunks.groupBy("h")
        .agg(F.min("doc_id").alias("d_lo"), F.max("doc_id").alias("d_hi"))
        .filter(F.col("d_lo") != F.col("d_hi"))
        .select("h", F.lit(1).alias("is_shared"))
    )
    # no broadcast hint: unlike the decontamination eval set, the shared-span
    # set is NOT small by nature (boilerplate-heavy corpora produce many) —
    # AQE picks broadcast when it fits and shuffle-hash otherwise
    return (
        chunks.join(shared, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.coalesce("is_shared", F.lit(0))).cast("long").alias("n_shared"),
            floor_ratio(
                F.sum(F.coalesce("is_shared", F.lit(0))).cast("double") / F.count("*"),
                6,
            ).alias("shared_frac"),
        )
    )


def substring_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, pos, h)`` per overlapping window of ``_SUB_CHUNK`` (100)
    chars at ``_SUB_STEP`` (50) stride — the substring chunk substrate
    shared by q_dedup_substring (per-doc shared fractions) and
    q_dedup_substring_spans (maximal-span chaining), materialized once
    per (session, documents vintage). Window hashes are md5 (cross-engine
    identity — the oracles recompute them); text never leaves the per-row
    pipeline. (Plain string, not str.format: a formatted "docstring" is
    an expression statement — __doc__ would be None and the format call
    dead work per invocation; r7 ADVICE.)"""

    def build() -> DataFrame:
        docs = _spread(load_table(spark, sf_dir, "documents")).select(
            "doc_id", "text"
        )
        pos = F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(
                    F.length("text") - (_SUB_CHUNK - _SUB_STEP), F.lit(1)
                ),
                F.lit(_SUB_STEP),
            )
        ).alias("pos")
        return docs.select("doc_id", "text", pos).select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.md5(F.expr(f"substring(text, pos, {_SUB_CHUNK})")).alias("h"),
        )

    return session_substrate(
        spark, sf_dir, "dedup-substr-chunks", "documents", build
    )


def _span_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, grp, min_pos, max_pos) per maximal run of adjacent shared
    windows — the chaining core shared by q_dedup_substring_spans
    (extent report) and q_dedup_span_scrub (char-retention apply).
    Runs never overlap in characters: a gap in marked positions is at
    least 2 strides (= one chunk width), so consecutive runs' char
    extents are disjoint by construction."""
    chunks = substring_chunks(spark, sf_dir)
    # min != max == ">= 2 distinct docs" — one exchange, no Expand; see
    # q_dedup_substring's shared CTE for the equivalence argument (r11).
    shared = (
        chunks.groupBy("h")
        .agg(F.min("doc_id").alias("d_lo"), F.max("doc_id").alias("d_hi"))
        .filter(F.col("d_lo") != F.col("d_hi"))
        .select("h")
    )
    marked = chunks.join(shared, "h").select("doc_id", "pos")
    by_pos = Window.partitionBy("doc_id").orderBy("pos")
    runs = marked.select(
        "doc_id",
        "pos",
        (F.col("pos") - _SUB_STEP * F.row_number().over(by_pos)).alias("grp"),
    )
    return runs.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("min_pos"), F.max("pos").alias("max_pos")
    )


@register(
    "q_dedup_substring_spans",
    oracle=f"""
WITH chunks AS (
  SELECT d.doc_id, CAST(g.pos AS BIGINT) AS pos,
         md5(substring(d.text, g.pos, {_SUB_CHUNK})) AS h
  FROM documents d,
       LATERAL unnest(generate_series(
         1, greatest(length(d.text) - {_SUB_CHUNK - _SUB_STEP}, 1),
         {_SUB_STEP})) AS g(pos)
),
shared AS (
  SELECT h FROM chunks GROUP BY h
  HAVING count(DISTINCT doc_id) >= 2
),
marked AS (
  SELECT c.doc_id, c.pos
  FROM chunks c JOIN shared s ON s.h = c.h
),
runs AS (
  SELECT doc_id, pos,
         pos - {_SUB_STEP} * row_number() OVER (PARTITION BY doc_id
                                                ORDER BY pos) AS grp
  FROM marked
),
spans AS (
  SELECT doc_id,
         max(pos) - min(pos) + {_SUB_CHUNK} AS span_chars
  FROM runs GROUP BY doc_id, grp
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(max(span_chars) AS BIGINT) AS max_span_chars,
       CAST(sum(span_chars) AS BIGINT) AS total_span_chars
FROM spans GROUP BY doc_id
""",
    doc=(
        "MAXIMAL repeated spans per document — the precision upgrade "
        "q_dedup_substring's own doc names (r6 verdict item 3), the "
        "practical middle ground between windowed-hash recall and a "
        "suffix-array pass (Lee et al., 'Deduplicating Training Data "
        "Makes Language Models Better', whose ~50-token duplicate spans "
        "production pipelines cite): windows whose hash recurs in >=2 "
        "distinct documents are CHAINED when adjacent ({s}-char stride "
        "apart) into maximal runs via gaps-and-islands (pos - stride x "
        "row_number is constant within a run), and each run reports its "
        "character extent — span resolution is the {s}-char stride, the "
        "honest granularity of the windowed method. Emits per-doc span "
        "count, longest span, and total spanned chars (what a cut pass "
        "would remove). Plan: the shared chunk substrate -> one hash "
        "agg for the shared set -> equi-join -> ONE doc_id window + "
        "run/doc aggregations riding the same exchange; only (doc_id, "
        "pos) pairs shuffle into the window, never text."
    ).format(s=_SUB_STEP),
)
def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = _span_runs(spark, sf_dir).select(
        "doc_id",
        (F.col("max_pos") - F.col("min_pos") + _SUB_CHUNK).alias("span_chars"),
    )
    return spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.max("span_chars").cast("long").alias("max_span_chars"),
        F.sum("span_chars").cast("long").alias("total_span_chars"),
    )


@register(
    "q_dedup_span_scrub",
    oracle=f"""
WITH chunks AS (
  SELECT d.doc_id, CAST(g.pos AS BIGINT) AS pos,
         md5(substring(d.text, g.pos, {_SUB_CHUNK})) AS h
  FROM documents d,
       LATERAL unnest(generate_series(
         1, greatest(length(d.text) - {_SUB_CHUNK - _SUB_STEP}, 1),
         {_SUB_STEP})) AS g(pos)
),
shared AS (
  SELECT h FROM chunks GROUP BY h
  HAVING count(DISTINCT doc_id) >= 2
),
marked AS (
  SELECT c.doc_id, c.pos
  FROM chunks c JOIN shared s ON s.h = c.h
),
runs AS (
  SELECT doc_id, pos,
         pos - {_SUB_STEP} * row_number() OVER (PARTITION BY doc_id
                                                ORDER BY pos) AS grp
  FROM marked
),
spans AS (
  SELECT doc_id, min(pos) AS min_pos, max(pos) AS max_pos
  FROM runs GROUP BY doc_id, grp
),
tot AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_total
  FROM documents
),
cut AS (
  SELECT s.doc_id,
         sum(least(s.max_pos + {_SUB_CHUNK - 1}, t.n_chars_total)
             - s.min_pos + 1) AS n_cut
  FROM spans s JOIN tot t ON t.doc_id = s.doc_id
  GROUP BY s.doc_id
),
per_doc AS (
  SELECT t.doc_id, t.n_chars_total,
         CAST(t.n_chars_total - coalesce(c.n_cut, 0) AS BIGINT)
           AS n_chars_retained,
         floor(CAST(t.n_chars_total - coalesce(c.n_cut, 0) AS DOUBLE)
               / t.n_chars_total * 1000000) / 1000000 AS retained_frac
  FROM tot t LEFT JOIN cut c ON c.doc_id = t.doc_id
),
pack AS (
  SELECT floor(CAST(sum(n_chars_retained) AS DOUBLE)
               / sum(n_chars_total) * 1000000) / 1000000
           AS corpus_retained_frac
  FROM per_doc
)
SELECT doc_id, n_chars_total, n_chars_retained, retained_frac,
       corpus_retained_frac
FROM per_doc, pack
""",
    doc=(
        "APPLY layer for char-span dedup — the q_dedup_sentence_scrub "
        "twin at window granularity: every maximal repeated span "
        "(q_dedup_substring_spans' chained runs) is CUT from its "
        "document, clamped to the document's end (tail windows extend "
        "past short texts), and each document reports total vs retained "
        "characters plus the corpus char-retention rate. Runs never "
        "overlap in characters (adjacent-window chaining leaves >= one "
        "chunk width between runs), so the cut is a plain per-doc sum — "
        "no interval merging needed. Rides the same chunk substrate and "
        "one doc_id window; the corpus rate is a 1-row broadcast pack."
    ),
)
def q_dedup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = _span_runs(spark, sf_dir)
    tot = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("n_chars_total")
    )
    cut = (
        spans.join(tot, "doc_id")
        .select(
            "doc_id",
            (
                F.least(
                    F.col("max_pos") + (_SUB_CHUNK - 1), F.col("n_chars_total")
                )
                - F.col("min_pos")
                + 1
            ).alias("span_cut"),
        )
        .groupBy("doc_id")
        .agg(F.sum("span_cut").alias("n_cut"))
    )
    retained = F.col("n_chars_total") - F.coalesce(F.col("n_cut"), F.lit(0))
    # try_divide: an EMPTY document has n_chars_total = 0, and vanilla
    # Spark 4 runs ANSI mode where a plain double division by zero is a
    # job-killing DIVIDE_BY_ZERO; DuckDB's x/0 is NULL, so NULL is the
    # cross-engine fraction for zero-length docs (same rule as _cosine)
    per_doc = tot.join(cut, "doc_id", "left").select(
        "doc_id",
        "n_chars_total",
        retained.cast("long").alias("n_chars_retained"),
        floor_ratio(
            F.try_divide(retained.cast("double"), F.col("n_chars_total")), 6
        ).alias("retained_frac"),
    )
    pack = per_doc.agg(
        floor_ratio(
            F.try_divide(
                F.sum("n_chars_retained").cast("double"),
                F.sum("n_chars_total"),
            ),
            6,
        ).alias("corpus_retained_frac")
    )
    return per_doc.crossJoin(F.broadcast(pack))


@register(
    "q_dedup_suffix_groups",
    oracle=f"""
WITH wk AS (
  SELECT d.doc_id, CAST(g.pos AS BIGINT) AS pos,
         substring(d.text, g.pos, {_SUB_CHUNK}) AS wkey
  FROM documents d,
       LATERAL unnest(generate_series(
         1, greatest(length(d.text) - {_SUB_CHUNK - _SUB_STEP}, 1),
         {_SUB_STEP})) AS g(pos)
  WHERE d.text IS NOT NULL AND length(d.text) > 0
),
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY wkey
                            ORDER BY doc_id, pos) AS rn
  FROM wk
),
cut AS (SELECT doc_id, pos FROM ranked WHERE rn >= 2),
runs AS (
  SELECT doc_id, pos,
         pos - {_SUB_STEP} * row_number() OVER (PARTITION BY doc_id
                                                ORDER BY pos) AS grp
  FROM cut
),
tot AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_total
  FROM documents
),
extents AS (
  SELECT r.doc_id,
         least(max(r.pos) + {_SUB_CHUNK - 1}, any_value(t.n_chars_total))
           - min(r.pos) + 1 AS extent_chars
  FROM runs r JOIN tot t ON t.doc_id = r.doc_id
  GROUP BY r.doc_id, r.grp
),
per_doc AS (
  SELECT e.doc_id,
         CAST(count(*) AS BIGINT) AS n_cut_extents,
         CAST(max(e.extent_chars) AS BIGINT) AS max_extent_chars,
         CAST(any_value(t.n_chars_total) AS BIGINT) AS n_chars_total,
         CAST(sum(e.extent_chars) AS BIGINT) AS n_chars_cut,
         CAST(any_value(t.n_chars_total) - sum(e.extent_chars) AS BIGINT)
           AS n_chars_retained,
         floor((any_value(t.n_chars_total) - sum(e.extent_chars))
               / CAST(any_value(t.n_chars_total) AS DOUBLE)
               * 1000000) / 1000000 AS retained_frac
  FROM extents e JOIN tot t ON t.doc_id = e.doc_id
  GROUP BY e.doc_id
),
pack AS (
  SELECT floor(((SELECT sum(n_chars_total) FROM tot)
                - coalesce((SELECT sum(n_chars_cut) FROM per_doc), 0))
               / CAST((SELECT sum(n_chars_total) FROM tot) AS DOUBLE)
               * 1000000) / 1000000 AS corpus_retained_frac
)
SELECT doc_id, n_cut_extents, max_extent_chars, n_chars_total,
       n_chars_cut, n_chars_retained, retained_frac, corpus_retained_frac
FROM per_doc, pack
""",
    doc=(
        "EXACT substring dedup at suffix-group granularity — the "
        "keep-one-copy form of Lee et al.'s ExactSubstr ('Deduplicating "
        "Training Data Makes Language Models Better'), completing the "
        "dedup ladder exact -> token-set -> MinHash -> PPJoin -> "
        "winnow -> suffix: identical fixed-width CONTENT windows "
        "({c}-char, {s}-char stride) form suffix groups; the FIRST "
        "occurrence in global (doc_id, pos) order is the canonical "
        "survivor and every later occurrence — cross-doc or within-doc "
        "— is cut; cut positions chain (gaps-and-islands) into maximal "
        "duplicate extents, and each affected document reports extent "
        "count, longest extent, chars cut, and retention, plus the "
        "corpus retention rate. This is DEDUP semantics (one copy "
        "survives), vs q_dedup_span_scrub's SCRUB semantics (every "
        "copy of a cross-doc span removed) — the two bracket a cut "
        "policy decision real pipelines make. Scale shape: the "
        "classical formulation is a global lexicographic suffix sort "
        "with adjacent-run detection; on Spark the suffix-group "
        "exchange HASH-partitions a 16-byte md5 digest of the window "
        "content instead of range-partitioning the windows themselves "
        "— ~6x narrower shuffle than moving the raw windows (the "
        "q_dedup_substring collision contract: 128-bit digests stand "
        "in for content equality), and "
        "strictly better balance (no lexicographic hotspots — "
        "boilerplate-heavy corpora cluster badly under range "
        "partitioning), and canonical-pick + group-size ride ONE "
        "partitioned window over that exchange. Downstream is the "
        "shared per-doc chaining shape: one doc_id window + two "
        "bounded aggregates; the corpus rate is a 1-row broadcast "
        "pack. Tail windows clamp at document end, so extents never "
        "overcount past the text."
    ).format(c=_SUB_CHUNK, s=_SUB_STEP),
)
def q_dedup_suffix_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # NULL and zero-length docs are dropped: an empty doc's single tail
    # window is '' — a degenerate suffix group that cuts 0 chars but
    # skews the wkey window partition (every empty doc lands in it)
    wk = (
        _spread(docs)
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(
                        F.length("text") - (_SUB_CHUNK - _SUB_STEP),
                        F.lit(1),
                    ),
                    F.lit(_SUB_STEP),
                )
            ).alias("pos"),
            "text",
        )
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            # 16-byte md5 digest of the window, not the raw {100}-char
            # string: the suffix-group exchange only needs EQUALITY, and
            # digests cut its width ~6× (the sibling q_dedup_substring
            # keys the same exchange class on md5 with the same accepted
            # 128-bit collision contract). The oracle still groups on the
            # raw window text — a deliberately STRONGER twin: it verifies
            # the digest grouping reproduces ground-truth content groups.
            F.expr(f"unhex(md5(substring(text, pos, {_SUB_CHUNK})))").alias(
                "whash"
            ),
        )
    )
    wg = Window.partitionBy("whash").orderBy("doc_id", "pos")
    cut = (
        wk.select(
            "doc_id", "pos", F.row_number().over(wg).alias("rn")
        )
        .filter(F.col("rn") >= 2)
        .select("doc_id", "pos")
    )
    by_pos = Window.partitionBy("doc_id").orderBy("pos")
    runs = cut.select(
        "doc_id",
        "pos",
        (F.col("pos") - _SUB_STEP * F.row_number().over(by_pos)).alias("grp"),
    )
    tot = docs.select(
        "doc_id", F.length("text").cast("long").alias("n_chars_total")
    )
    extents = (
        runs.join(tot, "doc_id")
        .groupBy("doc_id", "grp")
        .agg(
            (
                F.least(
                    F.max("pos") + (_SUB_CHUNK - 1),
                    F.any_value("n_chars_total"),
                )
                - F.min("pos")
                + 1
            ).alias("extent_chars"),
            F.any_value("n_chars_total").alias("n_chars_total"),
        )
    )
    retained = F.any_value("n_chars_total") - F.sum("extent_chars")
    per_doc = extents.groupBy("doc_id").agg(
        F.count("*").alias("n_cut_extents"),
        F.max("extent_chars").cast("long").alias("max_extent_chars"),
        F.any_value("n_chars_total").cast("long").alias("n_chars_total"),
        F.sum("extent_chars").cast("long").alias("n_chars_cut"),
        retained.cast("long").alias("n_chars_retained"),
        floor_ratio(
            F.try_divide(
                retained.cast("double"), F.any_value("n_chars_total")
            ),
            6,
        ).alias("retained_frac"),
    )
    corpus_tot = tot.agg(F.sum("n_chars_total").alias("ct"))
    corpus_cut = per_doc.agg(
        F.coalesce(F.sum("n_chars_cut"), F.lit(0)).alias("cc")
    )
    pack = corpus_tot.crossJoin(F.broadcast(corpus_cut)).select(
        floor_ratio(
            F.try_divide(
                (F.col("ct") - F.col("cc")).cast("double"), F.col("ct")
            ),
            6,
        ).alias("corpus_retained_frac")
    )
    return per_doc.crossJoin(F.broadcast(pack))


_SEG_BLOCK, _SEG_MIN_TOKS = 10, 5


@register(
    "q_dedup_sentence",
    oracle=f"""
WITH tk AS (
  SELECT doc_id, unnest(toks) AS tok,
         unnest(range(1, len(toks) + 1)) AS pos
  FROM (SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents)
),
sent AS (
  SELECT doc_id, tok, pos,
         sum(term) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) - term AS sent_id
  FROM (SELECT doc_id, tok, pos,
               CASE WHEN regexp_matches(tok, '[.!?]$') THEN 1 ELSE 0 END
                 AS term
        FROM tk)
),
blocks AS (
  SELECT doc_id, sent_id, tok, pos,
         (row_number() OVER (PARTITION BY doc_id, sent_id ORDER BY pos) - 1)
           // {_SEG_BLOCK} AS block_id
  FROM sent
),
segs AS (
  SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY pos)) AS h
  FROM blocks GROUP BY doc_id, sent_id, block_id
  HAVING count(*) >= {_SEG_MIN_TOKS}
),
shared AS (
  SELECT h FROM segs GROUP BY h HAVING count(DISTINCT doc_id) >= 2
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(CASE WHEN sh.h IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_shared,
       floor(CAST(sum(CASE WHEN sh.h IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
             / count(*) * 1000000) / 1000000 AS shared_frac
FROM segs s LEFT JOIN shared sh ON sh.h = s.h
GROUP BY s.doc_id
""",
    doc=(
        "Sentence-aligned exact-substring dedup — the boundary-aware "
        "sibling of q_dedup_substring's fixed 200-char windows, and the "
        "form production boilerplate removal ships (CCNet/Gopher strip "
        "repeated PARAGRAPHS/SENTENCES, not arbitrary char spans, so a "
        "one-char offset cannot hide a repeat): tokens segment at "
        "sentence terminators ([.!?]-suffixed tokens close a sentence), "
        "pathological/unpunctuated sentences re-segment every "
        "{b} tokens (the standard cap — this synthetic corpus has no "
        "terminators, so there it degrades to exact {b}-token blocks; "
        "the terminator path is fixture-tested), fragments under "
        "{m} tokens are dropped, and each segment content-hash seen in "
        ">=2 distinct documents marks a repeated span, rolled up per "
        "document like q_dedup_substring. Plan: posexplode -> per-doc "
        "running-sum window (ONE doc_id exchange; the sort spills at "
        "scale) -> segment agg that REUSES the window's doc_id "
        "partitioning (group keys extend the partition key, so no "
        "second exchange) -> segment-hash agg + per-doc rollup; "
        "segment hashes shuffle as 32-char strings, never text."
    ).format(b=_SEG_BLOCK, m=_SEG_MIN_TOKS),
)
def q_dedup_sentence(spark: SparkSession, sf_dir: str) -> DataFrame:
    segs = sentence_segments(spark, sf_dir).select("doc_id", "h")
    # min != max == ">= 2 distinct docs" — one exchange, no Expand; see
    # q_dedup_substring's shared CTE for the equivalence argument (r11).
    shared = (
        segs.groupBy("h")
        .agg(F.min("doc_id").alias("d_lo"), F.max("doc_id").alias("d_hi"))
        .filter(F.col("d_lo") != F.col("d_hi"))
        .select("h", F.lit(1).alias("is_shared"))
    )
    hit = F.coalesce("is_shared", F.lit(0))
    return (
        segs.join(shared, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(hit).cast("long").alias("n_shared"),
            floor_ratio(F.sum(hit).cast("double") / F.count("*"), 6).alias(
                "shared_frac"
            ),
        )
    )


def sentence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, h, n_toks)`` per sentence-aligned segment of at least
    ``_SEG_MIN_TOKS`` tokens — the shared substrate behind the segment
    family (q_dedup_sentence reports shared fractions; the scrub key
    applies removal), materialized once per (session, documents vintage).

    Plan (one doc_id exchange end to end): posexplode -> per-doc
    running-sum window over sentence terminators (the sort spills at
    scale) -> fixed _SEG_BLOCK re-segmentation window that REUSES the
    doc_id partitioning -> segment hash agg whose group keys extend the
    partition key (no second exchange). Segment hashes are 32-char md5
    strings (cross-engine identity required — the oracle recomputes
    them); document text never shuffles past the first window."""

    def build() -> DataFrame:
        toks = toks_documents(spark, sf_dir).select(
            "doc_id", F.posexplode("toks").alias("pos0", "tok")
        )
        term = F.col("tok").rlike("[.!?]$").cast("int")
        by_pos = Window.partitionBy("doc_id").orderBy("pos0")
        sent = toks.select(
            "doc_id",
            "tok",
            "pos0",
            (
                F.sum(term).over(
                    by_pos.rowsBetween(Window.unboundedPreceding, 0)
                )
                - term
            ).alias("sent_id"),
        )
        in_sent = Window.partitionBy("doc_id", "sent_id").orderBy("pos0")
        blocks = sent.select(
            "doc_id",
            "sent_id",
            "tok",
            "pos0",
            ((F.row_number().over(in_sent) - 1) / _SEG_BLOCK)
            .cast("long")
            .alias("block_id"),
        )
        return (
            blocks.groupBy("doc_id", "sent_id", "block_id")
            .agg(
                F.md5(
                    F.concat_ws(
                        " ",
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("pos0", "tok"))
                            ),
                            lambda x: x["tok"],
                        ),
                    )
                ).alias("h"),
                F.count("*").alias("n_toks"),
            )
            .filter(F.col("n_toks") >= _SEG_MIN_TOKS)
            .select("doc_id", "h", "n_toks")
        )

    return session_substrate(
        spark, sf_dir, "dedup-sentence-segs", "documents", build
    )


_SEG_SQL = f"""tk AS (
  SELECT doc_id, unnest(toks) AS tok,
         unnest(range(1, len(toks) + 1)) AS pos
  FROM (SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents)
),
sent AS (
  SELECT doc_id, tok, pos,
         sum(term) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) - term AS sent_id
  FROM (SELECT doc_id, tok, pos,
               CASE WHEN regexp_matches(tok, '[.!?]$') THEN 1 ELSE 0 END
                 AS term
        FROM tk)
),
blocks AS (
  SELECT doc_id, sent_id, tok, pos,
         (row_number() OVER (PARTITION BY doc_id, sent_id ORDER BY pos) - 1)
           // {_SEG_BLOCK} AS block_id
  FROM sent
),
segs AS (
  SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY pos)) AS h,
         count(*) AS n_toks
  FROM blocks GROUP BY doc_id, sent_id, block_id
  HAVING count(*) >= {_SEG_MIN_TOKS}
),
shared AS (
  SELECT h FROM segs GROUP BY h HAVING count(DISTINCT doc_id) >= 2
)"""


@register(
    "q_dedup_sentence_scrub",
    oracle=f"""
WITH {_SEG_SQL},
tot AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT)
           AS n_toks_total
  FROM documents
),
dropped AS (
  SELECT s.doc_id, sum(s.n_toks) AS n_dropped
  FROM segs s JOIN shared sh ON s.h = sh.h
  GROUP BY s.doc_id
),
per_doc AS (
  SELECT t.doc_id, t.n_toks_total,
         CAST(t.n_toks_total - coalesce(d.n_dropped, 0) AS BIGINT)
           AS n_toks_retained,
         floor(CAST(t.n_toks_total - coalesce(d.n_dropped, 0) AS DOUBLE)
               / t.n_toks_total * 1000000) / 1000000 AS retained_frac
  FROM tot t LEFT JOIN dropped d ON t.doc_id = d.doc_id
),
pack AS (
  SELECT floor(CAST(sum(n_toks_retained) AS DOUBLE)
               / sum(n_toks_total) * 1000000) / 1000000
           AS corpus_retained_frac
  FROM per_doc
)
SELECT doc_id, n_toks_total, n_toks_retained, retained_frac,
       corpus_retained_frac
FROM per_doc, pack
""",
    doc=(
        "APPLY layer for segment-level dedup (r6 verdict item 5 — the "
        "near-dup family has survivors/size-dist; this is the segment "
        "family's analogue): every sentence-aligned segment seen in >=2 "
        "distinct documents is boilerplate and is DROPPED FROM ALL "
        "documents (the CCNet/Gopher repeated-paragraph rule — removal, "
        "not first-copy-wins, because a span repeated across documents "
        "is template noise in each of them). Emits per-document total "
        "vs retained token counts, the per-doc retention fraction, and "
        "the corpus-level retention rate (what the scrub would shrink "
        "training data by). Rides the SAME one-exchange segment "
        "substrate as q_dedup_sentence; sub-minimum fragments are not "
        "dedup-eligible and are always retained. The corpus rate is a "
        "1-row broadcast pack (constant size at any scale)."
    ),
)
def q_dedup_sentence_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    segs = sentence_segments(spark, sf_dir)
    # min != max == ">= 2 distinct docs" — one exchange, no Expand; see
    # q_dedup_substring's shared CTE for the equivalence argument (r11).
    shared = (
        segs.groupBy("h")
        .agg(F.min("doc_id").alias("d_lo"), F.max("doc_id").alias("d_hi"))
        .filter(F.col("d_lo") != F.col("d_hi"))
        .select("h")
    )
    dropped = (
        segs.join(shared, "h")
        .groupBy("doc_id")
        .agg(F.sum("n_toks").alias("n_dropped"))
    )
    tot = toks_documents(spark, sf_dir).select(
        "doc_id", F.size("toks").cast("long").alias("n_toks_total")
    )
    retained = F.col("n_toks_total") - F.coalesce(F.col("n_dropped"), F.lit(0))
    # try_divide (ANSI-safe): token totals are >= 1 for any non-NULL text
    # (splitting '' yields ['']), but NULL text carries a NULL total and a
    # future tokenizer change must degrade to NULL like DuckDB, not throw
    per_doc = (
        tot.join(dropped, "doc_id", "left")
        .select(
            "doc_id",
            "n_toks_total",
            retained.cast("long").alias("n_toks_retained"),
            floor_ratio(
                F.try_divide(retained.cast("double"), F.col("n_toks_total")),
                6,
            ).alias("retained_frac"),
        )
    )
    pack = per_doc.agg(
        floor_ratio(
            F.try_divide(
                F.sum("n_toks_retained").cast("double"),
                F.sum("n_toks_total"),
            ),
            6,
        ).alias("corpus_retained_frac")
    )
    return per_doc.crossJoin(F.broadcast(pack))


# -- incremental dedup (crawl batch vs historical index) ---------------------


@register(
    "q_dedup_incremental",
    oracle=f"""
WITH {_AUG_SQL},
idx AS (SELECT DISTINCT md5(lower(trim(text))) AS h FROM documents),
batch AS (
  SELECT doc_id, md5(lower(trim(text))) AS h FROM aug
  WHERE doc_id >= {AUG_OFFSET}
),
marked AS (
  SELECT b.doc_id, (i.h IS NOT NULL) AS in_index,
         CAST(min(b.doc_id) OVER (PARTITION BY b.h) AS BIGINT) AS first_in_batch
  FROM batch b LEFT JOIN idx i ON b.h = i.h
)
SELECT doc_id,
       CASE WHEN in_index THEN 'dup_index'
            WHEN doc_id > first_in_batch THEN 'dup_batch'
            ELSE 'novel' END AS status
FROM marked
""",
    doc=(
        "Incremental dedup: a new crawl batch (the augmented copy rows, "
        "doc_id >= 1M) checked against the historical corpus index (base "
        "documents' content hashes) AND against itself. Every production "
        "pipeline runs this shape per crawl: the index is hashes-only "
        "(16 B/doc — never text), the probe is a hash equi-join, and the "
        "within-batch tiebreak (min doc_id per hash) runs as a window on "
        "the SAME hash key the probe joined on, so batch rows shuffle "
        "once. At 100 TB the index side is itself huge — the join keys "
        "are uniform md5s, so the hash co-partition is skew-free by "
        "construction; here the index is broadcast-sized. Statuses: "
        "dup_index (seen in a prior crawl), dup_batch (non-first copy "
        "within this crawl), novel."
    ),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    content_hash = F.md5(F.lower(F.trim(F.col("text"))))
    idx = (
        load_table(spark, sf_dir, "documents")
        .select(content_hash.alias("h"))
        .distinct()
        .withColumn("in_index", F.lit(True))
    )
    batch = (
        augmented_documents(spark, sf_dir)
        .filter(F.col("doc_id") >= AUG_OFFSET)
        .select("doc_id", content_hash.alias("h"))
    )
    w = Window.partitionBy("h")
    return (
        batch.join(F.broadcast(idx), "h", "left")
        .select(
            "doc_id",
            F.when(F.col("in_index"), F.lit("dup_index"))
            .when(F.col("doc_id") > F.min("doc_id").over(w), F.lit("dup_batch"))
            .otherwise(F.lit("novel"))
            .alias("status"),
        )
    )


@register(
    "q_dedup_minhash_incremental",
    oracle=f"""
WITH {_AUG_SQL},
{_ORACLE_SIG_CTES},
cross_cand AS (
  SELECT c.doc_a, c.doc_b FROM cand c
  WHERE c.doc_a < {AUG_OFFSET} AND c.doc_b >= {AUG_OFFSET}
),
est AS (
  SELECT c.doc_b AS doc_id, c.doc_a AS cand_id,
         ({_MINHASH_MATCHES}) / 16.0 AS e
  FROM cross_cand c
  JOIN sig x ON x.doc_id = c.doc_a
  JOIN sig y ON y.doc_id = c.doc_b
),
best AS (
  SELECT doc_id, cand_id, e FROM (
    SELECT doc_id, cand_id, e,
           row_number() OVER (PARTITION BY doc_id ORDER BY e DESC, cand_id)
             AS rk
    FROM est)
  WHERE rk = 1
),
batch AS (SELECT doc_id FROM sig WHERE doc_id >= {AUG_OFFSET})
SELECT b.doc_id,
       CASE WHEN bst.e >= 0.5 THEN 'near_dup' ELSE 'novel' END AS status,
       CAST(coalesce(CASE WHEN bst.e >= 0.5 THEN bst.cand_id END, -1)
            AS BIGINT) AS matched,
       round(coalesce(bst.e, 0.0), 4) AS best_est
FROM batch b LEFT JOIN best bst ON bst.doc_id = b.doc_id
""",
    doc=(
        "Incremental NEAR-dup detection — the MinHash sibling of "
        "q_dedup_incremental's exact-hash batch-vs-index pass, and the "
        "shape a daily crawl actually runs: the new batch's signatures "
        "are LSH-probed against the historical index's (bands must "
        "collide, never all-pairs), each batch document reports its best "
        "index match (max estimated Jaccard, min-doc tie-break) and a "
        "near_dup/novel verdict at the 0.5 threshold — novel documents "
        "still surface their best sub-threshold estimate for triage. "
        "Plan: BOTH sides ride the shared signature substrate and the "
        "single band-bucket shuffle (the index side of a production run "
        "is a pre-banded table scan); per-batch argmax is a window over "
        "the candidate pairs, bounded by candidate count, not corpus. "
        "Estimates are exact multiples of 1/16 — identical doubles on "
        "both engines."
    ),
)
def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = corpus_signatures(spark, sf_dir).select("doc_id", "sig")
    pairs = lsh_candidate_pairs(sigs).filter(
        (F.col("doc_a") < AUG_OFFSET) & (F.col("doc_b") >= AUG_OFFSET)
    )
    est = pairs.select(
        F.col("doc_b").alias("doc_id"),
        F.col("doc_a").alias("cand_id"),
        _est_jaccard().alias("e"),
    )
    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("e"), "cand_id")
    )
    best = est.withColumn("rk", rk).filter(F.col("rk") == 1).drop("rk")
    batch = sigs.filter(F.col("doc_id") >= AUG_OFFSET).select("doc_id")
    hit = F.col("e") >= 0.5
    return batch.join(best, "doc_id", "left").select(
        "doc_id",
        F.when(hit, F.lit("near_dup")).otherwise(F.lit("novel")).alias("status"),
        F.coalesce(F.when(hit, F.col("cand_id")), F.lit(-1))
        .cast("long")
        .alias("matched"),
        F.round(F.coalesce("e", F.lit(0.0)), 4).alias("best_est"),
    )


# -- winnowing fingerprints (MOSS) --------------------------------------------

_WINNOW_W = 4  # window width in grams: guarantee = w + k - 1 = 6 tokens


@register(
    "q_dedup_winnow",
    oracle="WITH "
    + _AUG_SQL
    + f""",
toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM aug
),
grams AS (
  SELECT doc_id, i AS pos,
         CAST('0x' || substr(md5(t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]),
              1, 15) AS BIGINT) AS gh,
         greatest(len(t) - 2, 0) AS g
  FROM toks, LATERAL unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)
),
wmin AS (
  SELECT doc_id, g,
         min(gh) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS fp
  FROM grams WHERE pos <= g - {_WINNOW_W - 1}
),
fps AS (SELECT DISTINCT doc_id, g, fp FROM wmin),
share AS (SELECT fp, count(DISTINCT doc_id) AS nd FROM fps GROUP BY fp)
SELECT f.doc_id,
       CAST(any_value(f.g) AS BIGINT) AS n_grams,
       CAST(count(*) AS BIGINT) AS n_fp,
       floor(count(*) / CAST(any_value(f.g) - {_WINNOW_W - 1} AS DOUBLE)
             * 1000000) / 1000000 AS fp_density,
       CAST(sum(CASE WHEN s.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared_fp
FROM fps f JOIN share s ON f.fp = s.fp
GROUP BY f.doc_id
""",
    doc=(
        "Winnowing fingerprints (Schleimer/Wilkerson/Aiken — the MOSS "
        "algorithm): per doc, the minimum trigram hash of every "
        "4-gram-wide sliding window, deduplicated — the fingerprint "
        "selection scheme with a MATCH GUARANTEE (any shared run of "
        "w + k - 1 = 6 tokens shares at least one fingerprint) that "
        "uniform sampling schemes like 0 mod p lack, at expected "
        "density 2/(w+1). Emits per doc: gram count, fingerprint "
        "count, realized density, and how many of its fingerprints "
        "appear in other docs (the plagiarism/copy signal over the "
        "augmented corpus). Plan shape: the positional gram explode "
        "rides per-doc partition windows (never a global sort), "
        "fingerprints shuffle once keyed by hash for the sharing "
        "count, and the per-doc rollup is one hash aggregate — the "
        "same one-exchange discipline as the MinHash family, but "
        "position-aware."
    ),
)
def q_dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): the trigram build + per-gram md5 is the wall (measured at
    # sf1: 5.5 s of the 6.3 s total runs in the gram projection) and the
    # augmented union arrives in ~4-8 scan splits locally, leaving most
    # cores idle through the most expensive map stage. Round-robin per
    # the r11 corpus lesson (hash on coarse doc keys leaves 10-20%
    # per-partition text-byte imbalance). No-op at real scale where the
    # scan yields >= cores splits.
    from cloud_data_sync_spark.tables import spread

    docs = spread(augmented_documents(spark, sf_dir))
    take = "greatest(size(toks) - 2, 0)"
    tri = (
        f"zip_with(zip_with(slice(toks, 1, {take}), slice(toks, 2, {take}),"
        " (a, b) -> concat(a, ' ', b)),"
        f" slice(toks, 3, {take}), (p, c) -> concat(p, ' ', c))"
    )
    # gram count is a per-DOC attribute — compute it before the explode
    # (a count(*) window over the exploded grams re-shuffles 1.7M rows
    # to learn what size(toks)-2 already says)
    grams = (
        docs.withColumn("toks", low_toks())
        .withColumn("g", F.expr(f"CAST({take} AS BIGINT)"))
        .select("doc_id", "g", F.posexplode(F.expr(tri)).alias("pos", "gram"))
        # fingerprint identity = first 60 bits of the md5, reinterpreted
        # as a long on BOTH engines (same min, same equality; 60-bit
        # prefix ties between distinct grams are ~1e-6/corpus and the
        # oracle applies the identical rule) — the sort/distinct/share
        # stages then move 8-byte longs instead of 32-char hex strings
        # (the SCALE.md md5->long discipline)
        .select(
            "doc_id",
            "g",
            "pos",
            F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10)
            .cast("long")
            .alias("gh"),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, _WINNOW_W - 1)
    )
    wmin = grams.filter(F.col("pos") <= F.col("g") - _WINNOW_W).select(
        "doc_id", "g", F.min("gh").over(w).alias("fp")
    )
    fps = wmin.select("doc_id", "g", "fp").distinct()
    # r12: the sharing signal rides a WINDOW over the fp partition instead
    # of a (groupBy(fp) agg → broadcast → join back onto fps): the r11
    # shape made fps a two-consumer subtree, and the whole gram pipeline
    # (explode + 6M md5 + doc_id exchange + sort + sliding-window min +
    # distinct) was planned — and executed — TWICE, once under each
    # consumer, plus a ~1M-row broadcast of the share table (sf1 plan
    # dump: operators 1-26 and 27-53 are the same pipeline). With the
    # window the pipeline runs once and only (doc_id, g, fp) rows move:
    # one fp-keyed exchange replaces the duplicated subtree AND the
    # broadcast build. min != max over the unbounded fp partition is the
    # same "appears in >= 2 distinct docs" predicate as the r11 aggregate
    # (NULL doc_ids behave identically). Guide §2.4/§1.2.
    w_fp = Window.partitionBy("fp")
    shared2 = F.min("doc_id").over(w_fp) != F.max("doc_id").over(w_fp)
    return (
        fps.withColumn("shared2", shared2)
        .groupBy("doc_id")
        .agg(
            F.any_value("g").cast("long").alias("n_grams"),
            F.count("*").alias("n_fp"),
            floor_ratio(
                F.count("*")
                / (F.any_value("g") - (_WINNOW_W - 1)).cast("double"),
                6,
            ).alias("fp_density"),
            F.sum(F.when(F.col("shared2"), 1).otherwise(0))
            .cast("long")
            .alias("n_shared_fp"),
        )
    )


# -- dedup token-inflation report ---------------------------------------------


@register(
    "q_dup_inflation",
    oracle="WITH "
    + _aug_sql(", source")
    + """,
toks AS (
  SELECT a.doc_id, a.source,
         len(string_split_regex(trim(lower(a.text)), '\\s+')) AS n_toks,
         md5(lower(trim(a.text))) AS eh,
         md5(array_to_string(list_sort(list_distinct(
           string_split_regex(trim(lower(a.text)), '\\s+'))), ' ')) AS th
  FROM aug a
),
marked AS (
  SELECT t.*,
         CASE WHEN t.doc_id = min(t.doc_id) OVER (PARTITION BY t.eh)
              THEN 1 ELSE 0 END AS keep_exact,
         CASE WHEN t.doc_id = min(t.doc_id) OVER (PARTITION BY t.th)
              THEN 1 ELSE 0 END AS keep_tokenset
  FROM toks t
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS tokens_total,
       CAST(sum(keep_exact * n_toks) AS BIGINT) AS tokens_after_exact,
       CAST(sum(keep_tokenset * n_toks) AS BIGINT)
         AS tokens_after_tokenset,
       floor((sum(n_toks) / CAST(sum(keep_exact * n_toks) AS DOUBLE) - 1)
             * 1000000) / 1000000 AS exact_inflation,
       floor((sum(n_toks) / CAST(sum(keep_tokenset * n_toks) AS DOUBLE)
              - 1) * 1000000) / 1000000 AS tokenset_inflation
FROM marked GROUP BY source
""",
    doc=(
        "Dedup token-inflation report — the number that prices a dedup "
        "pass: per source, how many TRAINING TOKENS the corpus carries "
        "vs what survives exact dedup and token-set dedup, expressed "
        "as inflation (tokens paid per token kept, minus one). Token "
        "count, not doc count, because training cost and memorization "
        "risk scale with tokens — a corpus can be 2% duplicate docs "
        "but 20% duplicate tokens if the copies are long. Two "
        "canonicalization tiers ride the SAME scan as two hash "
        "windows (exact content hash; order-insensitive token-set "
        "hash), so the report costs one corpus pass + two "
        "hash-partition exchanges; survivors are min-doc_id per "
        "group, the q_dedup_exact rule."
    ),
)
def q_dup_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks_col = low_toks()
    # source CARRIED through the augmentation branches (augment_docs
    # passes non-(doc_id, text) columns through every projection) — no
    # join back to the original table and, critically, no doc_id %
    # 1_000_000 recovery, which silently mis-attributes sources the
    # moment original doc_ids reach the augmentation's 1M id offset at
    # larger scale factors (r8 ADVICE).
    # spread(): tokenize + two full-text md5 per augmented row are the
    # per-row wall on a 1-2 split local scan (the winnow gram-stage
    # class). Keyed on the unique post-augmentation doc_id; no-op at
    # real scale. Row-count-adaptive (exact footer count, the
    # q_percentiles_adaptive pattern): the two dedup windows re-shuffle
    # right after, so at wave-floor sizes the extra exchange measured
    # 1.8× WORSE (sf0.1) while 0.59× at sf1 — spread only past 20k
    # documents.
    from cloud_data_sync_spark.tables import spread, table_num_rows

    aug = augment_docs(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "source"
        )
    )
    if table_num_rows(sf_dir, "documents") > 20_000:
        aug = spread(aug, "doc_id")
    aug = aug.select(
        "doc_id",
        "source",
        F.size(toks_col).alias("n_toks"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("eh"),
        F.md5(
            F.array_join(
                F.array_sort(F.array_distinct(toks_col)), " "
            )
        ).alias("th"),
    )
    we = Window.partitionBy("eh")
    wt = Window.partitionBy("th")
    marked = aug.select(
        "source",
        "n_toks",
        F.when(
            F.col("doc_id") == F.min("doc_id").over(we), 1
        )
        .otherwise(0)
        .alias("keep_exact"),
        F.when(
            F.col("doc_id") == F.min("doc_id").over(wt), 1
        )
        .otherwise(0)
        .alias("keep_tokenset"),
    )
    te = F.sum(F.col("keep_exact") * F.col("n_toks"))
    tt = F.sum(F.col("keep_tokenset") * F.col("n_toks"))
    return marked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("tokens_total"),
        te.cast("long").alias("tokens_after_exact"),
        tt.cast("long").alias("tokens_after_tokenset"),
        floor_ratio(
            F.sum("n_toks") / te.cast("double") - 1, 6
        ).alias("exact_inflation"),
        floor_ratio(
            F.sum("n_toks") / tt.cast("double") - 1, 6
        ).alias("tokenset_inflation"),
    )
