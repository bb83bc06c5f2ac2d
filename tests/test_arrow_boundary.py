"""Arrow boundary type matrix: what each stateless Python site returns for
the values a pandas conversion could not carry — a NULL element, a NaN, an
empty array, a NULL map or metadata cell, an empty binary.

Modelled on pyspark's own pandas-UDF type tests: one input per case, the
exact value it must produce, and the declared type as it comes back. Every
site reads Arrow batches (``arrow_udf`` / ``mapInArrow``), so SQL NULL and
NaN reach the Python code as two different values and must stay two
different values on the way out.
"""

from __future__ import annotations

import hashlib
import math
import re
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import DoubleType, LongType

from cloud_data_sync_spark.tables import table_path

PKG = Path(__file__).resolve().parent.parent / "cloud_data_sync_spark"
NAN = float("nan")
DIM = 64


def _same(a, b) -> bool:
    """Equality that tells NULL, NaN and numbers apart."""
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a):
        return math.isnan(b)
    return a == b and type(a) is type(b)


# -- functions/udfs.py: bpe_ish_token_count ----------------------------------


@pytest.mark.parametrize(
    "text,expected",
    [
        (None, None),  # NULL text counts NULL, not 0
        ("", 0),  # empty string: no tokens
        ("NaN", 1),  # the string 'NaN' is a word, not a missing value
        ("a, b", 3),
    ],
)
def test_token_count_boundary(spark, text, expected):
    from cloud_data_sync_spark.functions.udfs import bpe_ish_token_count

    df = spark.createDataFrame([(text,)], "t string").select(
        bpe_ish_token_count("t").alias("n")
    )
    assert df.schema["n"].dataType == LongType()
    assert df.collect()[0]["n"] == expected


# -- operators/multimodal.py: extract_features and sample_frames -------------


def _binary_frame(spark, content):
    # doc_id 3 -> image/png, the media_type binary_table derives
    return spark.createDataFrame(
        [(3, content, "image/png")], "doc_id long, content binary, media_type string"
    )


@pytest.mark.parametrize(
    "content,expected",
    [
        (None, (3, None, 1, 0, "fake-image")),  # NULL payload
        (b"", (3, 0, 1, 0, "fake-image")),  # empty binary
        (b"ab", (3, 2, 1, ord("a") + ord("b"), "fake-image")),
    ],
)
def test_extract_features_boundary(spark, content, expected):
    from cloud_data_sync_spark.operators.multimodal import extract_features

    df = extract_features(_binary_frame(spark, content))
    assert df.schema.simpleString() == (
        "struct<doc_id:bigint,byte_len:bigint,n_frames:bigint,"
        "head_checksum:bigint,codec:string>"
    )
    assert [tuple(r) for r in df.collect()] == [expected]


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


@pytest.mark.parametrize(
    "content,expected",
    [
        (None, [(3, 0, None, None)]),  # NULL payload: one placeholder frame
        (b"", [(3, 0, 0, _md5(""))]),  # empty binary: one empty frame
        # 450 codepoints -> frames 0..4, every 4th kept
        (b"x" * 450, [(3, 0, 100, _md5("x" * 100)), (3, 4, 50, _md5("x" * 50))]),
    ],
)
def test_sample_frames_boundary(spark, content, expected):
    from cloud_data_sync_spark.operators.multimodal import sample_frames

    df = sample_frames(_binary_frame(spark, content))
    assert df.schema.simpleString() == (
        "struct<doc_id:bigint,frame_idx:bigint,frame_len:bigint,frame_md5:string>"
    )
    assert sorted(tuple(r) for r in df.collect()) == expected


# -- operators/dedup.py: _pair_cosine ----------------------------------------


def _vec(*head):
    return list(head) + [0.0] * (DIM - len(head))


@pytest.mark.parametrize(
    "va,vb,na,nb,expected",
    [
        (_vec(3.0, 4.0), _vec(3.0, 4.0), 5.0, 5.0, 1.0),
        (None, _vec(3.0, 4.0), None, 5.0, None),  # NULL embedding
        (_vec(3.0, None), _vec(3.0, 4.0), 5.0, 5.0, None),  # NULL element
        (_vec(3.0, NAN), _vec(3.0, 4.0), 5.0, 5.0, NAN),  # NaN element stays NaN
        (_vec(3.0, 4.0), _vec(3.0, 4.0), NAN, 5.0, None),  # NaN norm
        (_vec(), _vec(3.0, 4.0), 0.0, 5.0, None),  # zero norm: 0/0
        ([], [], 0.0, 0.0, None),  # empty arrays
        ([3.0, 4.0], [3.0, 4.0], 5.0, 5.0, None),  # not DIM long
    ],
)
def test_pair_cosine_boundary(spark, va, vb, na, nb, expected):
    from cloud_data_sync_spark.operators.dedup import _pair_cosine

    df = spark.createDataFrame(
        [(va, vb, na, nb)], "va array<double>, vb array<double>, na double, nb double"
    ).select(_pair_cosine("va", "vb", "na", "nb").alias("c"))
    assert df.schema["c"].dataType == DoubleType()
    assert _same(df.collect()[0]["c"], expected)


# -- operators/ml.py: q_random_projection's _rp ------------------------------

RP_VECS = {
    1: [0.5] * DIM,
    2: [0.5] * 31 + [None] + [0.5] * 32,  # NULL element
    3: [0.5] * 31 + [NAN] + [0.5] * 32,  # NaN element
    4: [],  # empty array
    5: None,  # NULL embedding
    6: [0.0] * DIM,  # zero norm
}


@pytest.fixture(scope="module")
def rp_rows(spark, tmp_path_factory):
    from cloud_data_sync_spark.registry import all_queries

    d = str(tmp_path_factory.mktemp("rp_sf"))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(list(RP_VECS), pa.int64()),
                "embedding": pa.array(list(RP_VECS.values()), pa.list_(pa.float32())),
                "label": pa.array([0] * len(RP_VECS), pa.int32()),
            }
        ),
        table_path(d, "embeddings"),
    )
    out: dict[int, list] = {}
    for r in all_queries()["q_random_projection"].fn(spark, d).collect():
        out.setdefault(r["vec_id"], []).append(r)
    return out


@pytest.mark.parametrize(
    "vec_id,components,norm_ratio",
    [
        (2, "null", None),  # NULL element: every component and the norm NULL
        (3, "null", NAN),  # NaN element: components guarded, norm NaN
        (4, "null", None),  # empty array: out of bounds on every dim
        (5, "null", None),  # NULL embedding
        (6, "zero", None),  # zero norm: 0/0 is NULL
        (1, "finite", "finite"),
    ],
)
def test_random_projection_boundary(rp_rows, vec_id, components, norm_ratio):
    rows = rp_rows[vec_id]
    # one row per output dim, whatever the input
    assert sorted(r["dim"] for r in rows) == list(range(16))
    comps = [r["component"] for r in rows]
    if components == "null":
        assert comps == [None] * 16
    elif components == "zero":
        assert all(c == 0.0 for c in comps)
    else:
        assert all(isinstance(c, float) and math.isfinite(c) for c in comps)
    if norm_ratio == "finite":
        assert all(0.0 < r["norm_ratio"] < 10.0 for r in rows)
    else:
        assert all(_same(r["norm_ratio"], norm_ratio) for r in rows)


# -- executor.py: execute_plan -----------------------------------------------

PLAN_SCHEMA = (
    "mapping_id string, object_name string, action string, size long, "
    "etag string, last_modified timestamp, content_type string, "
    "metadata map<string,string>"
)


@pytest.fixture()
def plan_roots(tmp_path):
    src, tgt = tmp_path / "src", tmp_path / "tgt"
    src.mkdir()
    tgt.mkdir()
    (src / "empty.bin").write_bytes(b"")
    (src / "meta.txt").write_bytes(b"hi")
    (src / "nullmeta.txt").write_bytes(b"x")
    return src, tgt


@pytest.mark.parametrize(
    "row,status,content_type,metadata,target",
    [
        # empty binary, NULL content type, NULL metadata map
        (("empty.bin", "copy", 0, None, None, None), "success",
         "application/octet-stream", {}, b""),
        # metadata map and content type carried through
        (("meta.txt", "copy", 2, "e1", "text/x-test", {"k": "v"}), "success",
         "text/x-test", {"k": "v"}, b"hi"),
        # empty map and NULL size/etag pass through as NULL
        (("nullmeta.txt", "copy", None, None, None, {}), "success",
         "text/plain", {}, b"x"),
        # missing source: failed_get, no target written
        (("missing.txt", "copy", 1, None, None, None), "failed_get",
         "text/plain", {}, None),
        # delete of an absent target: the 404 tolerance
        (("gone.txt", "delete", None, None, None, None), "success", None, {}, None),
    ],
)
def test_execute_plan_boundary(
    spark, plan_roots, row, status, content_type, metadata, target
):
    from cloud_data_sync_spark.executor import RESULT_SCHEMA, execute_plan

    src, tgt = plan_roots
    name, action, size, etag, ct, meta = row
    plan = spark.createDataFrame(
        [("m", name, action, size, etag, None, ct, meta)], PLAN_SCHEMA
    )
    res = execute_plan(plan, {"m": (str(src), f"file://{tgt}")})
    assert res.schema == spark.createDataFrame([], RESULT_SCHEMA).schema
    (r,) = res.collect()
    assert (r["mapping_id"], r["object_name"], r["action"]) == ("m", name, action)
    assert r["status"] == status
    assert (r["error"] is None) == (status == "success")
    assert (r["size"], r["etag"], r["last_modified"]) == (size, etag, None)
    assert r["content_type"] == content_type
    assert r["metadata"] == metadata
    assert r["last_synced"] is not None
    dst = tgt / name
    assert (dst.read_bytes() if dst.exists() else None) == target


def test_execute_plan_refuses_non_local_roots(spark, tmp_path):
    from cloud_data_sync_spark.executor import execute_plan

    plan = spark.createDataFrame([], PLAN_SCHEMA)
    for src, tgt in (("s3a://b/x", str(tmp_path)), (str(tmp_path), "gs://b/y")):
        with pytest.raises(ValueError, match="local file I/O only"):
            execute_plan(plan, {"m": (src, tgt)})


# -- the one pandas boundary left ---------------------------------------------


def test_pandas_only_in_streaming():
    """Stateless Python work crosses the boundary as Arrow; only the
    streaming state APIs (applyInPandasWithState,
    transformWithStateInPandas) still require pandas."""
    pattern = re.compile(
        r"pandas_udf|mapInPandas|toPandas|^\s*(import|from) pandas\b", re.M
    )
    offenders = [
        str(p.relative_to(PKG))
        for p in PKG.rglob("*.py")
        if "streaming" not in p.relative_to(PKG).parts
        and pattern.search(p.read_text())
    ]
    assert offenders == []
    assert any(
        pattern.search(p.read_text()) for p in (PKG / "streaming").rglob("*.py")
    ), "pattern no longer matches the streaming modules; the guard is stale"


def test_object_io_is_os_io():
    """Objects are listed, copied and deleted with OS calls; only the
    state table goes through Spark's Hadoop FileSystem."""
    pattern = re.compile(r"hadoop_fs|_jvm|_jsc")
    for rel in ("sources/listing.py", "executor.py"):
        assert not pattern.search((PKG / rel).read_text()), rel
    assert pattern.search((PKG / "state.py").read_text()), "the guard is stale"
