"""Multimodal-column pipeline: opaque binary payloads + typed metadata.

Pattern for image/audio/video at 100 TB: payloads live as a ``binary``
column (or as object-store paths for >2 GB blobs), metadata as typed
columns; decode / feature-extraction runs in ``mapInArrow`` so each Python
worker sees a columnar Arrow batch, never a row at a time.

The container has no codec *libraries*, so the default decode is a
deterministic fake the DuckDB oracle replays; the opt-in real path
(CLOUD_SYNC_REAL_DECODE=1) runs pure-Python container parsers — PNG
IHDR, WAV RIFF, MP4 boxes (functions/media.py) — extracting structural
metadata without any third-party dependency. The Spark-side plumbing
(binary column, schema, batch shape, partition parallelism) is identical
on both paths and oracle-checked where SQL-expressible.

Payloads are synthesized from ``documents.text`` (utf-8 bytes) so the
oracle can rebuild the identical binary column with DuckDB's encode().
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloud_data_sync_spark.operators.dedup import AUG_OFFSET
from cloud_data_sync_spark.registry import register
from cloud_data_sync_spark.tables import arrow_schema, load_table

# Real-decode opt-in: container-header decode (functions/media.py) in
# pure Python. The gate is an EXPLICIT flag, not a probe for whether a
# codec library happens to be importable — keying on PIL's presence
# would make an unrelated dependency that pulls in Pillow break every
# feature extraction at executor runtime with no code change in this
# repo. Default stays the oracle-replayable fake because the synthetic
# corpus payloads are UTF-8 text, not real PNG/WAV/MP4 containers.
import os as _os

REAL_DECODE_REQUESTED = _os.environ.get("CLOUD_SYNC_REAL_DECODE") == "1"


def media_type_of(doc_id_col):
    """The ONE doc_id -> media_type mapping (mirrors the oracle CASE);
    binary_table and q_multimodal_dedup must never drift apart on it."""
    return (
        F.when(doc_id_col % 3 == 0, F.lit("image/png"))
        .when(doc_id_col % 3 == 1, F.lit("audio/wav"))
        .otherwise(F.lit("video/mp4"))
    )

FEATURE_SCHEMA = (
    "doc_id long, byte_len long, n_frames long, head_checksum long, codec string"
)


def binary_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, content BINARY, media_type, n_chars) — the
    multimodal storage shape (payload + typed metadata columns)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("content"),
        media_type_of(F.col("doc_id")).alias("media_type"),
        "n_chars",
    )


def decode_payload(content: bytes, media_type: str) -> dict:
    """Decode dispatcher. The default branch is the deterministic fake the
    DuckDB oracle replays (payloads here are synthesized UTF-8 text); the
    opt-in branch is a REAL pure-Python container decode — PNG IHDR / WAV
    RIFF / MP4 box parsing (functions/media.py) — which extracts the
    structural metadata (dimensions, sample rate, frame counts, brand) a
    100 TB ingest pass wants before any pixel/sample decode. Payloads
    that fail their labeled container parse come back TAGGED
    (codec='invalid/...'), never as a worker crash."""
    if REAL_DECODE_REQUESTED:
        from cloud_data_sync_spark.functions.media import decode_media

        return decode_media(content, media_type)
    # head checksum over the first 8 CODEPOINTS of the decoded payload
    # (payloads here are synthesized UTF-8; errors='replace' keeps real
    # binary deterministic). Codepoints, not raw bytes, because the
    # oracle must replay the checksum and DuckDB has no md5/ord over
    # BLOB — and for non-ASCII text a byte sum and a codepoint sum
    # diverge (caught by the adversarial-corpus suite).
    head = content.decode("utf-8", errors="replace")[:8]
    return {
        "byte_len": len(content),
        "n_frames": max(1, (len(content) + 99) // 100),
        "head_checksum": sum(ord(ch) for ch in head),
        "codec": f"fake-{media_type.split('/', 1)[0]}",
    }


def extract_features(binary_df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    mapInArrow: one Python worker per partition, columnar batches in/out —
    the scalable shape for per-payload Python work (vs. per-row UDFs)."""
    out_schema = arrow_schema(FEATURE_SCHEMA)

    def _extract(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            # a NULL payload (missing/unfetchable object — routine at
            # corpus scale) must not crash the worker: its features are
            # NULL byte_len, 1 frame, checksum 0 — exactly what the
            # oracle's NULL-propagating SQL yields for NULL text
            feats = [
                decode_payload(c, m)
                if c is not None
                else {
                    "byte_len": None,
                    "n_frames": 1,
                    "head_checksum": 0,
                    "codec": f"fake-{m.split('/', 1)[0]}",
                }
                for c, m in zip(
                    batch.column("content").to_pylist(),
                    batch.column("media_type").to_pylist(),
                )
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id").cast(f.type)
                    if f.name == "doc_id"
                    else pa.array([x[f.name] for x in feats], f.type)
                    for f in out_schema
                ],
                schema=out_schema,
            )

    return binary_df.mapInArrow(_extract, schema=FEATURE_SCHEMA)


@register(
    "q_multimodal_meta",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       md5(text) AS content_md5,
       CASE WHEN doc_id % 3 = 0 THEN 'image/png'
            WHEN doc_id % 3 = 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS media_type
FROM documents
""",
    doc="Metadata pass over binary payloads: sizes + checksums, no decode.",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    bt = binary_table(spark, sf_dir)
    return bt.select(
        "doc_id",
        F.octet_length("content").cast("long").alias("byte_len"),
        F.md5("content").alias("content_md5"),
        "media_type",
    )


@register(
    "q_multimodal_features",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       CAST(greatest((octet_length(encode(text)) + 99) // 100, 1) AS BIGINT)
         AS n_frames,
       CAST(coalesce(
            list_sum(list_transform(range(1, least(length(text), 8) + 1),
                 i -> ord(substr(text, CAST(i AS INTEGER), 1)))), 0) AS BIGINT)
         AS head_checksum,
       'fake-' || CASE WHEN doc_id % 3 = 0 THEN 'image'
                       WHEN doc_id % 3 = 1 THEN 'audio'
                       ELSE 'video' END AS codec
FROM documents
""",
    doc=(
        "mapInArrow feature extraction over binary payloads (deterministic "
        "fake decode; oracle recomputes the same features in SQL). byte_len/"
        "n_frames are byte-true; head_checksum sums the first 8 codepoints "
        "of the decoded payload so non-ASCII text replays identically."
    ),
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_features(binary_table(spark, sf_dir))


FRAME_SCHEMA = "doc_id long, frame_idx long, frame_len long, frame_md5 string"
FRAME_BYTES = 100
FRAME_STRIDE = 4  # keep every 4th frame


def sample_frames(binary_df: DataFrame) -> DataFrame:
    """1→N frame sampling via mapInArrow: each payload expands to every
    FRAME_STRIDE-th fixed-size chunk ("frame") with per-frame metadata.

    This is the video/audio frame-sampling shape: expansion happens
    executor-side inside the Arrow batch (never a driver loop), output
    rows carry (doc_id, frame_idx) so downstream per-frame feature UDFs
    join/partition naturally. With a real codec the chunking is replaced
    by decoded frames; the Spark plumbing is identical."""
    import hashlib

    out_schema = arrow_schema(FRAME_SCHEMA)

    def _frames(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            out: dict[str, list] = {f.name: [] for f in out_schema}
            for doc_id, content in zip(
                batch.column("doc_id").to_pylist(), batch.column("content").to_pylist()
            ):
                if content is None:
                    # missing payload: one placeholder frame with NULL
                    # length/checksum (= the oracle's substr/md5 of NULL),
                    # never a worker crash
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(0)
                    out["frame_len"].append(None)
                    out["frame_md5"].append(None)
                    continue
                # frames are CODEPOINT windows of the decoded payload, not
                # byte windows: the oracle replays each frame's md5 via
                # substr(), DuckDB cannot hash BLOB slices, and byte
                # windows would split multi-byte codepoints for non-ASCII
                # payloads (adversarial-corpus finding). A real codec
                # replaces this chunking wholesale; the 1→N plumbing —
                # the part under test — is unchanged.
                text = content.decode("utf-8", errors="replace")
                n_frames = max(1, (len(text) + FRAME_BYTES - 1) // FRAME_BYTES)
                for idx in range(0, n_frames, FRAME_STRIDE):
                    chunk = text[idx * FRAME_BYTES : (idx + 1) * FRAME_BYTES]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["frame_len"].append(len(chunk))
                    out["frame_md5"].append(
                        hashlib.md5(chunk.encode("utf-8")).hexdigest()
                    )
            yield pa.RecordBatch.from_arrays(
                [pa.array(out[f.name], f.type) for f in out_schema],
                schema=out_schema,
            )

    return binary_df.mapInArrow(_frames, schema=FRAME_SCHEMA)


@register(
    "q_multimodal_frames",
    oracle=f"""
WITH f AS (
  SELECT doc_id, text,
         greatest((length(text) + {FRAME_BYTES} - 1)
                  // {FRAME_BYTES}, 1) AS n_frames
  FROM documents
),
expanded AS (
  SELECT doc_id, text, unnest(range(0, n_frames)) AS idx FROM f
)
SELECT doc_id, CAST(idx AS BIGINT) AS frame_idx,
       CAST(length(substr(text, CAST(idx * {FRAME_BYTES} + 1 AS INTEGER),
                          {FRAME_BYTES})) AS BIGINT) AS frame_len,
       md5(substr(text, CAST(idx * {FRAME_BYTES} + 1 AS INTEGER),
                  {FRAME_BYTES})) AS frame_md5
FROM expanded WHERE idx % {FRAME_STRIDE} = 0
""",
    doc=(
        "Frame sampling over binary payloads: every 4th fixed-size chunk "
        "as a row with per-frame checksum — the 1→N expansion pattern for "
        "video/audio, executor-side in Arrow batches. Frames are codepoint "
        "windows of the decoded payload so the oracle can replay each "
        "frame's md5 via substr() for any (non-ASCII included) text."
    ),
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sample_frames(binary_table(spark, sf_dir))


@register(
    "q_multimodal_dedup",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  -- re-uploaded copies: same bytes, new ids (the dup class this catches)
  SELECT doc_id + {2 * AUG_OFFSET}, text FROM documents WHERE doc_id % 7 = 0
),
meta AS (
  SELECT doc_id, md5(text) AS content_md5,
         CASE WHEN doc_id % 3 = 0 THEN 'image/png'
              WHEN doc_id % 3 = 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type
  FROM corpus
)
SELECT content_md5,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(DISTINCT media_type) AS BIGINT) AS n_types,
       CAST(min(doc_id) AS BIGINT) AS canonical_id
FROM meta
GROUP BY content_md5
HAVING count(*) > 1
""",
    doc=(
        "Exact media dedup: byte-level checksum groupBy over the binary "
        "payload column, per media type — the first pass every multimodal "
        "corpus runs (identical uploads — grouped across labeled media "
        "types, since identical bytes are one asset; re-encodes caught by "
        "feature-space near-dup). The checksum is computed payload-side "
        "map-only; the shuffle carries (hash, count) partials, never bytes."
    ),
)
def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = binary_table(spark, sf_dir)
    copies = base.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 2 * AUG_OFFSET
    )
    # media_type derives from the NEW doc_id, matching the oracle's CASE
    bt = base.unionByName(copies).withColumn(
        "media_type", media_type_of(F.col("doc_id"))
    )
    return (
        bt.select("doc_id", "media_type", F.md5("content").alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.count("*").alias("n_copies"),
            F.countDistinct("media_type").alias("n_types"),
            F.min("doc_id").alias("canonical_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


@register(
    "q_multimodal_phash",
    oracle="""
WITH sig AS (
  SELECT doc_id,
         octet_length(encode(text)) AS blen,
         list_transform(range(0, 17),
           i -> CASE WHEN octet_length(encode(text)) = 0 THEN 0
                ELSE ord(substr(text,
                  CAST(greatest(least(1 + i * greatest(octet_length(encode(text)) // 17, 1),
                             octet_length(encode(text))), 1) AS INTEGER), 1)) END) AS s
  FROM documents
),
ph AS (
  SELECT doc_id,
         array_to_string(list_transform(range(1, 17),
           i -> CASE WHEN s[i] > s[i + 1] THEN '1' ELSE '0' END), '') AS phash
  FROM sig
)
SELECT doc_id, phash,
       CAST(min(doc_id) OVER (PARTITION BY phash) AS BIGINT) AS canonical_id,
       CAST(count(*) OVER (PARTITION BY phash) AS BIGINT) AS group_size
FROM ph
""",
    doc=(
        "Perceptual-hash near-dup for media payloads — dHash over the "
        "byte stream: 17 strided samples per payload, 16 gradient bits "
        "(sample[i] > sample[i+1]), group by fingerprint. This is the "
        "REAL dHash recipe applied to a 1-D signal; with codec libs "
        "present the samples become downscaled luminance pixels and "
        "nothing else changes (same bits, same grouping — the decode "
        "stub is the only swap point, multimodal.py:decode_payload). "
        "Map-only fingerprinting (strided probes, never a full byte "
        "scan), one fingerprint-key shuffle for the grouping; robust to "
        "byte-level jitter the way exact checksums (q_multimodal_dedup) "
        "are not. Texts are ASCII so byte[i] == codepoint(char[i]) holds "
        "on both engines."
    ),
)
def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    # r12: blen/stride are PRE-PROJECTED columns. Inlining the
    # expressions into the sampling lambda made Spark re-encode the whole
    # text to UTF-8 bytes INSIDE the per-sample closure — the sf1 plan
    # showed `octet_length(Encode(text))` twice per sample, i.e. ~34
    # full-payload encodes per document for 17 one-byte probes (2.9 s at
    # sf1 for what the docstring calls "strided probes, never a full
    # byte scan"). As attribute references they evaluate once per row.
    # Guide §1.2 (per-task work) — same values, same oracle.
    blen_once = F.octet_length(F.encode("text", "UTF-8")).cast("long")
    base = docs.select(
        "doc_id", "text", blen_once.alias("blen")
    ).withColumn(
        "stride",
        F.greatest(F.col("blen") / F.lit(17), F.lit(1)).cast("long"),
    )
    # position clamped to >= 1: for an empty text least(1, blen) is 0, and
    # substr-position-0 semantics diverge between engines (r3 advice) —
    # Spark ascii('') is 0 and the oracle CASE-guards blen = 0 to 0, so
    # empty payloads hash to the all-zeros fingerprint on both sides.
    samples = F.transform(
        F.sequence(F.lit(0), F.lit(16)),
        lambda i: F.ascii(
            F.expr("text").substr(
                F.greatest(
                    F.least(
                        F.lit(1) + i.cast("long") * F.col("stride"),
                        F.col("blen"),
                    ),
                    F.lit(1),
                ).cast("int"),
                F.lit(1),
            )
        ),
    )
    sig = base.select("doc_id", samples.alias("s"))
    bits = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: F.when(
                F.element_at("s", i.cast("int") + 1)
                > F.element_at("s", i.cast("int") + 2),
                F.lit("1"),
            ).otherwise(F.lit("0")),
        ),
    )
    ph = sig.select("doc_id", bits.alias("phash"))
    w = Window.partitionBy("phash")
    return ph.select(
        "doc_id",
        "phash",
        F.min("doc_id").over(w).alias("canonical_id"),
        F.count("*").over(w).alias("group_size"),
    )


# -- Hamming near-dup over the 64-bit dHash -----------------------------------

_PH_BITS = 64
_PH_BANDS = 4  # 4 x 16-bit bands: pigeonhole-complete for hamming <= 3
_PH_T = 2  # emitted pair threshold


@register(
    "q_phash_neardup",
    oracle=f"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  WHERE text IS NOT NULL AND octet_length(encode(text)) > 0
  UNION ALL
  SELECT doc_id + 4000000,
         substr(text, 1, 4) || 'Q' || substr(text, 6)
  FROM documents WHERE doc_id % 11 = 0 AND length(text) >= 6
),
sig AS (
  SELECT doc_id,
         octet_length(encode(text)) AS blen,
         list_transform(range(0, {_PH_BITS + 1}),
           i -> ord(substr(text,
                  CAST(greatest(least(1 + i * greatest(
                         octet_length(encode(text)) // {_PH_BITS + 1}, 1),
                       octet_length(encode(text))), 1) AS INTEGER), 1))) AS s
  FROM aug
),
bands AS (
  SELECT doc_id, b.k,
         list_sum(list_transform(range(0, 16),
           j -> CASE WHEN s[16 * b.k + j + 1] > s[16 * b.k + j + 2]
                THEN 1 << (15 - j) ELSE 0 END)) AS bv
  FROM sig, LATERAL unnest(range(0, {_PH_BANDS})) AS b(k)
),
doc_bands AS (
  SELECT doc_id,
         max(CASE WHEN k = 0 THEN bv END) AS b0,
         max(CASE WHEN k = 1 THEN bv END) AS b1,
         max(CASE WHEN k = 2 THEN bv END) AS b2,
         max(CASE WHEN k = 3 THEN bv END) AS b3
  FROM bands GROUP BY doc_id
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y ON x.k = y.k AND x.bv = y.bv
   AND x.doc_id < y.doc_id
),
pairs AS (
  SELECT c.a, c.b,
         bit_count(CAST(xor(da.b0, db.b0) AS BIGINT))
         + bit_count(CAST(xor(da.b1, db.b1) AS BIGINT))
         + bit_count(CAST(xor(da.b2, db.b2) AS BIGINT))
         + bit_count(CAST(xor(da.b3, db.b3) AS BIGINT)) AS hamming
  FROM cand c
  JOIN doc_bands da ON da.doc_id = c.a
  JOIN doc_bands db ON db.doc_id = c.b
)
SELECT a, b, CAST(hamming AS BIGINT) AS hamming
FROM pairs WHERE hamming <= {_PH_T}
""",
    doc=(
        "Hamming near-dup over the 64-bit dHash — the image-dedup "
        "standard (pHash banding), here over the byte-stream dHash so "
        "the oracle can replay it; with codec libs the samples become "
        "luminance pixels and NOTHING else changes. LSH in Hamming "
        "space: the 64 gradient bits split into 4 16-bit band values; "
        "any pair within hamming 3 shares an intact band (pigeonhole), "
        "so candidates come from ONE band-value equi-join — never an "
        "all-pairs scan — and are verified exactly with "
        "bit_count(xor(band, band)) sums over 16-bit ints. The corpus "
        "is augmented with one-byte-overwrite jittered twins "
        "(same length -> same stride -> at most one sample moves -> "
        "hamming <= 2), the case byte-exact dedup (q_multimodal_dedup) "
        "misses by construction and this operator exists to catch. "
        "Fingerprinting is map-only; the band exchange carries "
        "(band, 16-bit value) pairs; verification touches only "
        "candidate pairs."
    ),
)
def q_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL/empty docs are dropped UP FRONT (mirrored in the oracle's aug
    # CTE): every such doc hashes to the identical all-zero band vector,
    # so leaving them in degenerates the band equi-join to O(n^2)
    # candidate pairs inside that one class — and emits them all as
    # hamming-0 "near-dups". Degenerate payloads belong to the exact
    # byte-dedup path (q_multimodal_dedup), not Hamming LSH.
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(
            F.col("text").isNotNull()
            & (F.octet_length(F.encode("text", "UTF-8")) > 0)
        )
    )
    jitter = (
        docs.filter(
            (F.col("doc_id") % 11 == 0) & (F.length("text") >= 6)
        )
        .select(
            (F.col("doc_id") + 4_000_000).alias("doc_id"),
            F.concat(
                F.expr("substr(text, 1, 4)"),
                F.lit("Q"),
                F.expr("substr(text, 6)"),
            ).alias("text"),
        )
    )
    aug = docs.unionByName(jitter)
    n = _PH_BITS + 1
    # blen/stride hoisted to COLUMNS before the transform: an expression
    # inlined into the lambda re-evaluates per element (the
    # _with_shingles lesson — 65 encode(text) calls per row, and this
    # plan is consumed three times below)
    pre = aug.selectExpr(
        "doc_id",
        "text",
        "octet_length(encode(text, 'UTF-8')) AS blen",
        f"greatest(CAST(octet_length(encode(text, 'UTF-8')) / {n}"
        " AS BIGINT), 1) AS stride",
    )
    # no blen=0 branch: the up-front NULL/empty filter guarantees every
    # aug row has bytes (the jitter branch requires length >= 6), so a
    # degenerate-payload path here would be dead code contradicting the
    # filter's contract
    sig = pre.selectExpr(
        "doc_id",
        f"""transform(sequence(0, {_PH_BITS}),
             i -> ascii(substr(text,
                    CAST(greatest(least(1 + i * stride, blen), 1)
                      AS INT), 1))) AS s""",
    )
    band_exprs = [
        f"""aggregate(sequence(0, 15),
             0L,
             (acc, j) -> acc + CASE
               WHEN element_at(s, 16 * {k} + CAST(j AS INT) + 1)
                    > element_at(s, 16 * {k} + CAST(j AS INT) + 2)
               THEN shiftleft(1L, 15 - CAST(j AS INT)) ELSE 0L END)
           AS b{k}"""
        for k in range(_PH_BANDS)
    ]
    from cloud_data_sync_spark.tables import materialize

    # the band table is consumed three times (band explode + both pair
    # verify sides); truncate its lineage so the hash chain runs once
    doc_bands = materialize(sig.selectExpr("doc_id", *band_exprs), eager=False)
    bands = doc_bands.selectExpr(
        "doc_id",
        f"explode(arrays_zip(sequence(0, {_PH_BANDS - 1}), "
        f"array({', '.join('b' + str(k) for k in range(_PH_BANDS))}))) AS z",
    ).selectExpr("doc_id", "z['0'] AS k", "z['1'] AS bv")
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.k") == F.col("y.k"))
            & (F.col("x.bv") == F.col("y.bv"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b")
        )
        .distinct()
    )
    da, db = doc_bands.alias("da"), doc_bands.alias("db")
    hamming = sum(
        F.bit_count(
            F.expr(f"da.b{k} ^ db.b{k}")
        )
        for k in range(_PH_BANDS)
    )
    pairs = (
        cand.join(da, F.col("a") == F.col("da.doc_id"))
        .join(db, F.col("b") == F.col("db.doc_id"))
        .select("a", "b", hamming.cast("long").alias("hamming"))
    )
    return pairs.filter(F.col("hamming") <= _PH_T)
