"""Row-identity pins for the r12 fused media operators.

Each fused single-pass operator (render + consume in one Arrow-batched
``mapInPandas``) must return exactly the rows of the staged form
(``attach_*_blob`` -> consumer) it replaced in the registry queries and
the CLI.  The staged operators stay shipped (tests, composability), so
a drift between the two paths would silently fork the media semantics —
these pins make that loud.
"""

from __future__ import annotations

import pytest

from hbase_tohdfs_spark.operators import multimodal


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "pack my box with five dozen liquor jugs"),
        (4, "completamente diferente documento sin relacion alguna aqui"),
        (5, "el"),
        (6, "sphinx of black quartz judge my vow"),
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def _assert_same_rows(a, b):
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_render_image_stages_matches_staged(docs):
    staged = multimodal.image_decode_resize(
        multimodal.attach_image_blob(docs), 8, 8
    )
    fused = multimodal.render_image_stages(docs, 8, 8)
    _assert_same_rows(staged, fused)
    # the mixed corpus really exercises all three containers
    assert {r["stage"] for r in fused.collect()} == {"decode", "resize"}


def test_render_phash_matches_staged(docs):
    staged = multimodal.phash_images(multimodal.attach_image_blob(docs))
    fused = multimodal.render_phash_images(docs)
    _assert_same_rows(staged, fused)
    # identical text + same doc_id%3 renderer -> identical phash
    rows = {r["doc_id"]: r["phash"] for r in fused.collect()}
    assert len(rows) == 6 and all(len(v) == 16 for v in rows.values())


def test_render_audio_features_matches_staged(docs):
    staged = multimodal.extract_audio_features(
        multimodal.attach_wav_blob(docs)
    )
    fused = multimodal.render_audio_features(docs)
    _assert_same_rows(staged, fused)


def test_render_video_frames_matches_staged(docs):
    staged = multimodal.sample_video_frames(
        multimodal.attach_video_blob(docs), every=2
    )
    fused = multimodal.render_video_frames(docs, every=2)
    _assert_same_rows(staged, fused)


def test_blob_features_and_frames_matches_staged_union(spark, docs):
    from pyspark.sql import functions as F

    # a NULL-text doc: features row with NULL payload columns, no frames
    docs = docs.unionByName(
        spark.createDataFrame([(7, None)], "doc_id: long, text: string")
    )
    blobs = multimodal.attach_blob(docs)
    feats = multimodal.extract_features(blobs).select(
        "doc_id",
        F.lit("features").alias("kind"),
        "n_bytes",
        "content_md5",
        "head_hex",
        F.lit(None).cast("int").alias("n_frames"),
        F.lit(None).cast("int").alias("frame_idx"),
        F.lit(None).cast("string").alias("frame_md5"),
    )
    frames = multimodal.sample_frames(blobs, every=4).select(
        "doc_id",
        F.lit("frame").alias("kind"),
        F.lit(None).cast("long").alias("n_bytes"),
        F.lit(None).cast("string").alias("content_md5"),
        F.lit(None).cast("string").alias("head_hex"),
        "n_frames",
        "frame_idx",
        "frame_md5",
    )
    fused = multimodal.blob_features_and_frames(docs, every=4)
    _assert_same_rows(feats.unionByName(frames), fused)


def test_render_image_stages_custom_text_col(docs):
    # ADVICE r12: the render batch fn hardcoded pdf["text"], so any
    # non-default text_col selected the right column and then raised
    # KeyError at execution time.  Rows must equal the default-column
    # run on the same strings.
    renamed = docs.withColumnRenamed("text", "body")
    _assert_same_rows(
        multimodal.render_image_stages(docs, 8, 8),
        multimodal.render_image_stages(renamed, 8, 8, text_col="body"),
    )


def test_blob_features_null_text_matches_oracle_semantics(spark):
    # ADVICE r12: str(None) fabricated a b"None" payload.  The SQL
    # oracle's md5(NULL) is NULL and generate_series over a NULL
    # n_frames yields nothing: one features row, all payload columns
    # NULL, zero frame rows.
    docs = spark.createDataFrame(
        [(1, "real text"), (2, None)], "doc_id: long, text: string"
    )
    rows = multimodal.blob_features_and_frames(docs, every=4).collect()
    null_rows = [r for r in rows if r["doc_id"] == 2]
    assert len(null_rows) == 1
    r = null_rows[0]
    assert r["kind"] == "features"
    assert r["content_md5"] is None and r["n_bytes"] is None
    assert r["head_hex"] is None and r["frame_md5"] is None
    # the non-null doc is untouched: features row + its frame rows
    assert any(x["kind"] == "frame" for x in rows if x["doc_id"] == 1)


def test_frame_walk_helper_is_shared():
    # r12 verdict item 7: the fused op re-derived the frame formula
    # inline.  One definition now; pin its output against the formula.
    import hashlib

    payload = b"shared frame walk"
    n = 8 + hashlib.md5(payload).digest()[5] % 8
    walked = multimodal.walk_stub_frames(payload, every=4)
    assert [w[0] for w in walked] == [n] * len(walked)
    assert [w[1] for w in walked] == list(range(0, n, 4))
    assert walked[0][2] == hashlib.md5(payload + b":0").hexdigest()
    # digest passthrough (the fused caller's one-digest property)
    assert walked == multimodal.walk_stub_frames(
        payload, 4, hashlib.md5(payload)
    )


def test_fused_plans_have_single_python_stage(docs):
    for df in (
        multimodal.render_image_stages(docs, 8, 8),
        multimodal.render_phash_images(docs),
        multimodal.render_audio_features(docs),
        multimodal.render_video_frames(docs),
        multimodal.blob_features_and_frames(docs),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1, plan
