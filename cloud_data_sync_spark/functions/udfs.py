"""Pandas-UDF surface: the sanctioned escape hatch for logic the built-in
functions can't express.

Rules this engine follows (and the reference never needed — its extension
point was a Go interface, interfaces/provider.go:26-34):

- Arrow-batched ``@pandas_udf`` only — never row-at-a-time Python UDFs.
  A scalar pandas UDF moves whole columnar batches across the
  Python/JVM boundary (~10-100× less overhead per value).
- Registered once per module, pure functions of their inputs —
  deterministic, so Spark may re-execute them freely (speculation, retries).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from cloud_data_sync_spark.registry import floor_ratio, register
from cloud_data_sync_spark.tables import load_table, materialize

# BPE-ish tokenization: word pieces + standalone punctuation — the
# pre-tokenizer split most BPE vocabularies assume. re.ASCII: the DuckDB
# oracle's RE2 \w/\s are ASCII-only, while Python's default is
# Unicode-aware — on 'café' Python finds one token, RE2 finds two (the
# same engine-divergence the UDTF below guards with re.ASCII).
_TOKEN_RE = re.compile(r"\w+|[^\w\s]", re.ASCII)


@F.pandas_udf(LongType())
def bpe_ish_token_count(texts: pd.Series) -> pd.Series:
    """Vectorized token counter over an Arrow batch of strings. NULL text
    counts NULL (unknown), not 0 — matching the oracle's NULL-propagating
    regexp_extract_all; nullable Int64 so pandas NA survives the Arrow
    boundary as SQL NULL."""
    return pd.Series(
        pd.array(
            [None if t is None else len(_TOKEN_RE.findall(t)) for t in texts],
            dtype="Int64",
        )
    )


@register(
    "q_udf_surface",
    oracle="""
SELECT doc_id, lang,
       CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT)
         AS n_bpe_tokens,
       CAST(n_chars AS BIGINT) AS n_chars
FROM documents
""",
    doc=(
        "Pandas-UDF token counting (BPE-ish regex pre-tokenizer); the oracle "
        "recomputes the same regex in SQL — proving the UDF boundary carries "
        "exact values."
    ),
)
def q_udf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


_HLL_RSD = 0.023


@register(
    "q_agg_approx_distinct",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       COUNT(DISTINCT l_suppkey) AS exact_supps,
       TRUE AS within_tolerance
FROM lineitem
GROUP BY l_returnflag
""",
    doc=(
        "HyperLogLog++ approximate distinct (the 100 TB cardinality path: "
        "fixed-size sketch, no expand shuffle). rsd=0.023 → 8k "
        "registers/sketch; 0.01 would need 131k registers per (group, "
        "partition) — 16× the sketch bytes on the shuffle for 1% vs 2.3% "
        "error, a bad trade at scale. HLL estimates can't hash-match another "
        "engine, so the emitted columns are the exact counts plus a "
        "deterministic within_tolerance boolean (|approx-exact|/exact <= "
        "3*rsd for both sketches); the oracle computes the exact counts and "
        "literal TRUE. The sketch still runs — a broken HLL flips the "
        "boolean and the hash."
    ),
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Two aggregation branches joined on the (tiny) group key rather than one
    # mixed agg: two countDistincts + two HLL sketches in a single groupBy
    # force an Expand that triplicates every input row WITH the HLL buffers
    # riding along (measured 2-4x slower at sf0.1). Split, each branch keeps
    # its partial-agg map-side combine; the join is a broadcast over ~3 rows.
    # ...and the exact branch itself splits per distinct column: two
    # distinct columns in one agg still Expand the scan 2x; two
    # single-distinct branches each plan the no-Expand two-level form
    # and rejoin null-safely over ~3 groups (r11).
    e_parts = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts")
    )
    e_supps = li.groupBy(F.col("l_returnflag").alias("rf2")).agg(
        F.countDistinct("l_suppkey").alias("exact_supps")
    )
    exact = e_parts.join(
        F.broadcast(e_supps), F.expr("l_returnflag <=> rf2")
    ).select("l_returnflag", "exact_parts", "exact_supps")
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=_HLL_RSD).alias("approx_parts"),
        F.approx_count_distinct("l_suppkey", rsd=_HLL_RSD).alias("approx_supps"),
    )
    # null-SAFE join key: a NULL l_returnflag is a legitimate GROUP (SQL
    # GROUP BY keeps it; corrupt feeds produce it) and a plain equi-join
    # silently dropped it (adversarial fact probe, r10)
    agg = exact.alias("e").join(
        F.broadcast(approx).alias("a"),
        F.expr("e.l_returnflag <=> a.l_returnflag"),
    )
    tol = 3 * _HLL_RSD

    def _ok(apx: str, exa: str):
        # an all-NULL-key group has exact = 0: the ratio test would be
        # an ANSI divide-by-zero job-killer; HLL also reads 0 there
        return F.when(
            F.col(exa) == 0, F.col(apx) == 0
        ).otherwise(F.abs(F.col(apx) - F.col(exa)) / F.col(exa) <= tol)

    return agg.select(
        F.col("e.l_returnflag").alias("l_returnflag"),
        "exact_parts",
        "exact_supps",
        (_ok("approx_parts", "exact_parts") & _ok("approx_supps", "exact_supps")).alias(
            "within_tolerance"
        ),
    )


@register(
    "q_approx_topk",
    oracle="""
SELECT term, CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents)
GROUP BY term
ORDER BY cnt DESC, term
LIMIT 10
""",
    doc=(
        "Frequent-items sketch: approx_top_k over the token stream — the "
        "100 TB heavy-hitters path (fixed-memory mergeable sketch, "
        "map-side combined; the exact groupBy shuffles every distinct "
        "term). The sketch tracks 10k items, far above this corpus's "
        "distinct-token count, so counts are exact and hash-match the "
        "exact oracle; final top-10 membership is re-ranked (count desc, "
        "term) OUTSIDE the sketch so boundary ties never depend on sketch "
        "internals. At real scale counts above the tracking threshold "
        "go approximate — the same honesty caveat as the HLL query."
    ),
)
def q_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloud_data_sync_spark.operators.tokens import low_toks

    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(low_toks()).alias("term")
    )
    # approx_top_k is Spark >= 4.0 (pyproject pins the floor accordingly);
    # 1000 is k-returned — maxItemsTracked defaults to 10000, the '10k
    # items' the doc cites
    sketch = toks.agg(F.expr("approx_top_k(term, 1000)").alias("tk"))
    items = sketch.select(F.explode("tk").alias("s")).select(
        F.col("s.item").alias("term"), F.col("s.count").alias("cnt")
    )
    return items.orderBy(F.desc("cnt"), "term").limit(10)


@register(
    "q_udtf_surface",
    oracle="""
SELECT doc_id, tok, CAST(n AS BIGINT) AS n
FROM (
  SELECT doc_id, t.tok, count(*) AS n
  FROM (
    SELECT doc_id,
           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
    FROM documents WHERE doc_id % 97 = 0
  ) t
  WHERE t.tok <> ''
  GROUP BY doc_id, t.tok
)
""",
    doc=(
        "Python UDTF surface (Spark 4 table function): a per-document "
        "word-count generator expanded via LATERAL join — one input row "
        "fans out to one row per distinct token. The UDTF runs per "
        "partition in a single Python worker pass (Arrow-batched input); "
        "the oracle recomputes the identical expansion as unnest + GROUP "
        "BY, proving the table-function boundary carries exact multiset "
        "semantics. For hot paths the engine prefers built-ins (see "
        "q_text_term_freq); this registers the extension surface itself. "
        "Input bounded to doc_id % 97 = 0 — a UDTF fans out rows, and the "
        "demo keeps its output row count fixture-sized."
    ),
)
def q_udtf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="tok string, n long")
    class WordCounts:
        def eval(self, text: str):
            import re
            from collections import Counter

            # Tokenize with the SAME regex class as the corpus-wide
            # contract (tokens.low_toks / string_split_regex '\s+').
            # str.split()/str.strip() also break on non-ASCII Unicode
            # whitespace that Java/RE2 '\s' does not (r3 advice), and
            # Python's own '\s' is Unicode-aware unless re.ASCII is set.
            # No strip(): leading/trailing runs yield empty tokens that
            # the filter drops on both sides (oracle: `tok <> ''`), so
            # trim-semantics differences wash out.
            toks = [
                t
                for t in re.split(r"\s+", (text or "").lower(), flags=re.ASCII)
                if t
            ]
            for t, n in sorted(Counter(toks).items()):
                yield t, n

    # re-registration per call is idempotent (latest wins) and keeps the
    # query self-contained under any externally-built session
    spark.udtf.register("word_counts_udtf", WordCounts)
    load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 97 == 0
    ).createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT d.doc_id, w.tok, w.n "
        "FROM _udtf_docs d, LATERAL word_counts_udtf(d.text) w"
    )


_CMS_D, _CMS_W = 4, 64  # depth (hash rows) × width (buckets per row)


@register(
    "q_sketch_cms",
    oracle=f"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents
),
inc AS (
  SELECT r.i, term,
         CAST('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || term), 1, 6)
              AS BIGINT) % {_CMS_W} AS bucket
  FROM toks, range(0, {_CMS_D}) r(i)
),
sketch AS (
  SELECT i, bucket, count(*) AS c FROM inc GROUP BY i, bucket
),
probes AS (SELECT DISTINCT term FROM toks),
probe_cells AS (
  SELECT p.term, r.i,
         CAST('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || p.term), 1, 6)
              AS BIGINT) % {_CMS_W} AS bucket
  FROM probes p, range(0, {_CMS_D}) r(i)
),
est AS (
  SELECT pc.term, min(s.c) AS cms_est
  FROM probe_cells pc JOIN sketch s ON s.i = pc.i AND s.bucket = pc.bucket
  GROUP BY pc.term
),
exact AS (SELECT term, count(*) AS n FROM toks GROUP BY term)
SELECT e.term,
       CAST(x.n AS BIGINT) AS exact_n,
       CAST(e.cms_est AS BIGINT) AS cms_est,
       e.cms_est >= x.n AS never_undercounts
FROM est e JOIN exact x ON x.term = e.term
""",
    doc=(
        "Count-min sketch as a declarative plan — the custom mergeable "
        "sketch built from relational primitives instead of a UDAF: each "
        "token increments one bucket per hash row (md5-derived, "
        "engine-portable), the sketch IS a {d}×{w} grouped count "
        "(mergeable by addition — partial aggregation gives the merge for "
        "free), and a point estimate is the min over the key's d cells. "
        "Emits est vs exact plus the never-undercounts invariant per "
        "probe key. Because the hash family is deterministic on both "
        "engines, the oracle reproduces the sketch CELL-FOR-CELL — the "
        "estimates hash-match exactly, unlike HLL (q_agg_approx_distinct) "
        "where only a tolerance boolean is portable. At 100 TB the "
        "sketch's shuffle is O(d×w) per partition after map-side combine, "
        "independent of corpus size."
    ).format(d=_CMS_D, w=_CMS_W),
)
def q_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloud_data_sync_spark.operators.tokens import toks_documents

    docs = toks_documents(spark, sf_dir)
    toks = docs.select(F.explode("toks").alias("term"))
    i_col = F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("i")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("i").cast("string"), F.lit(":"), F.col("term"))),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % _CMS_W
    )
    # ONE corpus pass: the per-term exact counts are the only corpus-wide
    # aggregation, and sketch cells / probes / verification all derive from
    # that (term, n) table — incrementing a CMS cell once per occurrence or
    # once per term weighted by its count is the same sum. (The previous
    # shape tokenized the corpus three times and shuffled the ×d exploded
    # increment stream; this one shuffles tokens once, then d×W partials.)
    exact = toks.groupBy("term").agg(F.count("*").alias("exact_n"))
    cells = exact.select("term", "exact_n", i_col).select(
        "term", "exact_n", "i", bucket.alias("bucket")
    )
    sketch = cells.groupBy("i", "bucket").agg(F.sum("exact_n").alias("c"))
    est = (
        cells.join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy("term", "exact_n")
        .agg(F.min("c").alias("cms_est"))
    )
    return est.select(
        "term",
        "exact_n",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_n")).alias("never_undercounts"),
    )


_BLOOM_D, _BLOOM_M = 3, 1024  # hash count × bit-array size


@register(
    "q_bloom_prune",
    oracle=f"""
WITH dim AS (
  SELECT c_custkey FROM customer WHERE c_acctbal > 6000
),
bits AS (
  SELECT DISTINCT r.i,
         CAST('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':'
                             || CAST(c_custkey AS VARCHAR)), 1, 6)
              AS BIGINT) % {_BLOOM_M} AS bit
  FROM dim, range(0, {_BLOOM_D}) r(i)
),
probe AS (
  SELECT o.o_orderkey, o.o_custkey, r.i,
         CAST('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':'
                             || CAST(o.o_custkey AS VARCHAR)), 1, 6)
              AS BIGINT) % {_BLOOM_M} AS bit
  FROM orders o, range(0, {_BLOOM_D}) r(i)
),
passed AS (
  SELECT p.o_orderkey, p.o_custkey
  FROM probe p JOIN bits b ON b.i = p.i AND b.bit = p.bit
  GROUP BY p.o_orderkey, p.o_custkey
  HAVING count(*) = {_BLOOM_D}
)
SELECT CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_orders,
       CAST((SELECT count(*) FROM passed) AS BIGINT) AS n_passed,
       CAST((SELECT count(*) FROM orders o
             WHERE EXISTS (SELECT 1 FROM dim d
                           WHERE d.c_custkey = o.o_custkey)) AS BIGINT)
         AS n_true,
       floor(CAST((SELECT count(*) FROM passed)
                  - (SELECT count(*) FROM orders o
                     WHERE EXISTS (SELECT 1 FROM dim d
                                   WHERE d.c_custkey = o.o_custkey))
             AS DOUBLE)
             / (SELECT count(*) FROM orders) * 1000000) / 1000000 AS fp_rate
""",
    doc=(
        "Bloom-filter semi-join pruning from relational primitives: the "
        "qualifying dimension subset sets d bits each (portable md5 hash "
        "family), the fact side passes only when ALL its d bits are set, "
        "and the report compares pruned-candidate count against the true "
        "semi-join — overcount = false-positive rate, undercount "
        "impossible (the Bloom guarantee, asserted by construction since "
        "every true match sets its own bits). This is the ship-bits-not-"
        "keys shape runtime filters use: at 100 TB the bit set is "
        "O(m×d) ≤ a few KB broadcast regardless of dimension size, and "
        "the probe is map-side. The oracle reproduces the filter "
        "bit-for-bit."
    ),
)
def q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 6000)
        .select("c_custkey")
    )
    # spread(): d=3 md5 bit probes per order row, map-only, on a 1-2
    # split local scan (the split-bound class). Keyed on the unique key;
    # no-op at real scale.
    from cloud_data_sync_spark.tables import spread

    orders = spread(
        load_table(spark, sf_dir, "orders"), "o_orderkey"
    ).select("o_orderkey", "o_custkey")
    i_col = F.explode(F.sequence(F.lit(0), F.lit(_BLOOM_D - 1))).alias("i")

    def bit_of(i_expr, key):
        """The ONE bit-index formula (md5 of 'i:key' → 6 hex → % m). Build
        and probe sides — and the oracle SQL — must all agree; sharing the
        definition means an edit cannot desynchronize them silently."""
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(i_expr.cast("string"), F.lit(":"), key.cast("string"))),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long")
            % _BLOOM_M
        )

    bits = (
        dim.select("c_custkey", i_col)
        .select("i", bit_of(F.col("i"), F.col("c_custkey")).alias("bit"))
        .distinct()
    )
    # the Bloom probe is an AND of d membership tests — expressed as d
    # broadcast LEFT joins (presence flags), each a map-side hash probe
    # against that hash-row's (tiny) bit set, plus one broadcast flag join
    # for ground truth. ONE pass over the fact table: the three counters
    # fold into a single aggregate of conditional sums (the previous shape
    # ran three independent jobs over orders — 3x the corpus I/O the
    # ship-bits-not-keys design is meant to avoid). Zero shuffles and the
    # fact stream never widens beyond d+1 flag columns.
    flagged = orders
    for i in range(_BLOOM_D):
        bits_i = bits.filter(F.col("i") == i).select(
            F.col("bit").alias(f"_b{i}")
        )
        flagged = flagged.join(
            F.broadcast(bits_i),
            bit_of(F.lit(i), F.col("o_custkey")) == F.col(f"_b{i}"),
            "left",
        )
    flagged = flagged.join(
        F.broadcast(dim.select(F.col("c_custkey").alias("_true_key"))),
        F.col("o_custkey") == F.col("_true_key"),
        "left",
    )
    bloom_pass = None
    for i in range(_BLOOM_D):
        test = F.col(f"_b{i}").isNotNull()
        bloom_pass = test if bloom_pass is None else (bloom_pass & test)
    # coalesce(sum, 0): pass/true tallies over ZERO orders are 0 (the
    # oracle's count(*) subqueries), not Spark's NULL sum-of-empty
    agg = flagged.agg(
        F.count("*").alias("n_orders"),
        F.coalesce(F.sum(bloom_pass.cast("long")), F.lit(0)).alias(
            "n_passed"
        ),
        F.coalesce(
            F.sum(F.col("_true_key").isNotNull().cast("long")), F.lit(0)
        ).alias("n_true"),
    )
    return (
        agg.select(
            "n_orders",
            "n_passed",
            "n_true",
            # try_divide: zero orders -> NULL fp rate on both engines
            floor_ratio(
                F.try_divide(
                    (F.col("n_passed") - F.col("n_true")).cast("double"),
                    F.col("n_orders"),
                ),
                6,
            ).alias("fp_rate"),
        )
    )


@register(
    "q_sketch_rollup",
    oracle="""
SELECT event_type,
       CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_tolerance
FROM events
GROUP BY event_type, date_trunc('week', ts)
""",
    doc=(
        "Mergeable-sketch rollup (the incremental-aggregation pattern "
        "every 100 TB metrics stack runs on): per-(event_type, day) "
        "DataSketches HLL sketches of distinct users are UNION-merged "
        "into weekly estimates — the weekly rollup touches only "
        "|types|×7 fixed-size sketches, never re-scanning the events, "
        "which is how pre-aggregated tiers roll up without a second "
        "pass over raw data. Like q_agg_approx_distinct, sketch "
        "estimates can't hash-match another engine, so the emitted "
        "columns are the exact weekly distincts plus a deterministic "
        "within_tolerance boolean (merged estimate within 5%% of "
        "exact); the sketch pipeline still runs — a broken merge flips "
        "the boolean and the hash. Daily sketch agg and the exact "
        "twin each combine map-side; the merge agg ships sketches "
        "(~4 KB), not rows."
    ),
)
def q_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("week", F.col("ts")).alias("week"),
    )
    daily = ev.groupBy("event_type", "day", "week").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    weekly_est = daily.groupBy("event_type", "week").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users")
    )
    exact = ev.groupBy("event_type", "week").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    ok = (
        F.abs(F.col("est_users") - F.col("exact_users"))
        <= F.lit(0.05) * F.col("exact_users")
    )
    # null-safe join keys (the q_view_maintenance rule): a NULL
    # event_type group exists on BOTH sides but an equi-join's NULL !=
    # NULL silently drops it from the report — the oracle's single
    # GROUP BY has no such seam
    w = F.broadcast(weekly_est).alias("w")
    e = exact.alias("e")
    return (
        e.join(
            w,
            F.col("e.event_type").eqNullSafe(F.col("w.event_type"))
            & F.col("e.week").eqNullSafe(F.col("w.week")),
        )
        .select(
            F.col("e.event_type").alias("event_type"),
            F.col("e.week").alias("week"),
            "exact_users",
            ok.alias("within_tolerance"),
        )
    )


# -- HLL sketch set-algebra: cross-source overlap estimation -----------------

# Sources whose trigram-shingle vocabularies we compare; a fixed, small set
# keeps the pair lattice (6 pairs) and the exact verification join bounded
# regardless of corpus size.
_OVERLAP_SOURCES = ("src1", "src2", "src3", "src4")


_OVERLAP_SOURCES_SQL = ", ".join(f"'{s}'" for s in _OVERLAP_SOURCES)

@register(
    "q_hll_pair_overlap",
    oracle=f"""
WITH toks AS (
  SELECT source, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE source IN ({_OVERLAP_SOURCES_SQL})
),
shl AS (
  SELECT source, unnest(CASE WHEN len(t) >= 3
           THEN list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])
           ELSE CAST([] AS VARCHAR[]) END) AS sh
  FROM toks
),
per_src AS (SELECT DISTINCT source, sh FROM shl),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS exact_overlap
  FROM per_src a JOIN per_src b ON a.sh = b.sh AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT src_a, src_b, CAST(exact_overlap AS BIGINT) AS exact_overlap,
       TRUE AS within_tolerance
FROM pairs
""",
    doc=(
        "Sketch set-ALGEBRA, not just set cardinality: pairwise distinct- "
        "shingle overlap between sources estimated by inclusion-exclusion "
        "over HLL sketches — |A∩B| ≈ est(A) + est(B) − est(A∪B), where "
        "est(A∪B) is hll_union of the two per-source sketches. This is "
        "the capability q_sketch_rollup's union-merge alone doesn't show: "
        "fixed-size sketches supporting set arithmetic that would "
        "otherwise need a corpus-scale distinct join. ONE pass builds all "
        "per-source sketches (map-side combined, KB each); the pair "
        "lattice is a broadcast self-join over |sources| rows; the union "
        "runs per-pair on broadcast sketches — corpus bytes are touched "
        "exactly once. Like every HLL query, estimates can't hash-match "
        "another engine, so the emitted columns are the EXACT overlaps "
        "(computed by a distinct-pair join both engines run) plus a "
        "within_tolerance boolean (inclusion-exclusion compounds the "
        "per-sketch ~2% error, so the bound is 15% + 32 absolute — "
        "generous for the estimator, still falsified by any broken "
        "sketch/union/merge step)."
    ),
)
def q_hll_pair_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cloud_data_sync_spark.operators.dedup import _with_shingles

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source").isin(*_OVERLAP_SOURCES))
        .select("source", "text")
    )
    shl = (
        _with_shingles(docs)
        .select("source", F.explode("sh").alias("sh"))
    )
    # two consumers (sketch agg + exact pair join) would re-run the
    # tokenize/shingle/distinct pipeline; the distinct set is a session
    # substrate — per-call materialize paid full physical planning every
    # invocation (~1 s at sf0.1 before any executor work).
    # (The shingles stay strings here on purpose: the within_tolerance
    # bound is calibrated against the string-hash HLL estimates, and a
    # cheaper xxhash64 pre-hash measurably shifts the estimator outside
    # the bound on small sources at sf0.01.)
    from cloud_data_sync_spark.tables import session_substrate

    per_src = session_substrate(
        spark,
        sf_dir,
        "hll.pair_persrc",
        "documents",
        lambda: shl.distinct(),
    )
    sk = per_src.groupBy("source").agg(F.hll_sketch_agg("sh").alias("sk"))
    a = sk.select(F.col("source").alias("src_a"), F.col("sk").alias("sk_a"))
    b = sk.select(F.col("source").alias("src_b"), F.col("sk").alias("sk_b"))
    est_pairs = (
        a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            (
                F.hll_sketch_estimate("sk_a")
                + F.hll_sketch_estimate("sk_b")
                - F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
            ).alias("est_overlap"),
        )
    )
    exact_pairs = (
        per_src.alias("x")
        .join(
            per_src.alias("y"),
            (F.col("x.sh") == F.col("y.sh"))
            & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("src_a"), F.col("y.source").alias("src_b")
        )
        .agg(F.count("*").alias("exact_overlap"))
    )
    ok = F.abs(F.col("est_overlap") - F.col("exact_overlap")) <= (
        F.lit(0.15) * F.col("exact_overlap") + F.lit(32.0)
    )
    return (
        exact_pairs.join(F.broadcast(est_pairs), ["src_a", "src_b"])
        .select("src_a", "src_b", "exact_overlap", ok.alias("within_tolerance"))
    )
