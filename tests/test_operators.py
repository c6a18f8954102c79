"""Unit tests for pipeline operators (SURVEY.md §5.2 item 3)."""

from datetime import datetime

from pyspark.sql import functions as F

from priority_data_pipeline_azure_sql_db_spark.operators.flatten import (
    explode_subform,
    nest_subform,
    parent_without_subforms,
)
from priority_data_pipeline_azure_sql_db_spark.operators.merge import dedup_within, merge_upsert
from priority_data_pipeline_azure_sql_db_spark.operators.normalize import (
    add_audit_columns,
    cast_to_schema,
    drop_columns,
    lowercase_columns,
)
from priority_data_pipeline_azure_sql_db_spark.operators.watermark import watermark_filter


def test_lowercase_columns(spark):
    df = spark.sql("SELECT 1 AS OrderID, 'x' AS CustName")
    assert lowercase_columns(df).columns == ["orderid", "custname"]


def test_audit_columns(spark):
    df = spark.sql("SELECT 1 AS a")
    out = add_audit_columns(df, "rid-1", datetime(2026, 1, 1))
    row = out.collect()[0]
    assert row.extractionid == "rid-1"
    assert row.extractiontimestamputc == datetime(2026, 1, 1)
    assert out.columns == ["a", "extractionid", "extractiontimestamputc"]


def test_drop_columns_case_insensitive(spark):
    df = spark.sql("SELECT 1 AS a, 2 AS B, 3 AS c")
    assert drop_columns(df, ["b"]).columns == ["a", "c"]


def test_cast_to_schema(spark):
    from pyspark.sql import types as T

    df = spark.sql("SELECT '12' AS k, 3.5 AS v")
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
    ])
    out = cast_to_schema(df, schema)
    assert dict(out.dtypes) == {"k": "bigint", "v": "string"}


def test_watermark_filter_inclusive(spark):
    df = spark.sql(
        "SELECT * FROM VALUES (TIMESTAMP '2020-01-01 00:00:00'),"
        " (TIMESTAMP '2020-06-01 00:00:00'), (TIMESTAMP '2021-01-01 00:00:00') AS t(ts)"
    )
    out = watermark_filter(df, "ts", "2020-06-01 00:00:00").collect()
    assert len(out) == 2  # 'ge' bound is inclusive (OData semantics)


def test_nest_explode_roundtrip(spark):
    parent = spark.sql("SELECT * FROM VALUES (1, 'a'), (2, 'b'), (3, 'c') AS t(pk, pv)")
    child = spark.sql(
        "SELECT * FROM VALUES (1, 10, 'x'), (1, 11, 'y'), (2, 20, 'z') AS t(fk, ck, cv)"
    )
    nested = nest_subform(parent, child, ["pk"], ["fk"], "kids")
    # every parent row present; childless parent has empty array
    rows = {r.pk: r.kids for r in nested.collect()}
    assert len(rows) == 3 and rows[3] == []
    # explode reproduces the child rows with parent key attached
    back = explode_subform(nested, ["pk"], "kids")
    got = sorted((r.pk, r.ck, r.cv) for r in back.collect())
    assert got == [(1, 10, "x"), (1, 11, "y"), (2, 20, "z")]
    # parent projection drops the subform column
    assert parent_without_subforms(nested, ["kids"]).columns == ["pk", "pv"]


def test_merge_upsert_delta_wins(spark):
    target = spark.sql("SELECT * FROM VALUES (1, 'old'), (2, 'keep') AS t(pk, v)")
    delta = spark.sql("SELECT * FROM VALUES (1, 'new'), (3, 'ins') AS t(pk, v)")
    got = sorted((r.pk, r.v) for r in merge_upsert(target, delta, ["pk"]).collect())
    assert got == [(1, "new"), (2, "keep"), (3, "ins")]


def test_dedup_within_latest_wins(spark):
    df = spark.sql(
        "SELECT * FROM VALUES (1, 1, 'a'), (1, 2, 'b'), (2, 1, 'c') AS t(pk, ver, v)"
    )
    got = sorted((r.pk, r.v) for r in dedup_within(df, ["pk"], "ver").collect())
    assert got == [(1, "b"), (2, "c")]


def test_incremental_equiv_full(spark, sf_dir):
    """Property: overlapping incremental windows + MERGE ≡ full load."""
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    o = load_table(spark, sf_dir, "orders")
    full = o.count()
    base = o.filter(F.col("o_orderdate") < "1999-01-01")
    delta = o.filter(F.col("o_orderdate") >= "1998-01-01")  # 1-year overlap
    merged = merge_upsert(base, delta, ["o_orderkey"])
    assert merged.count() == full
    assert merged.select("o_orderkey").distinct().count() == full


# ---------------------------------------------------------------------------
# IVF ANN + multimodal stubs
# ---------------------------------------------------------------------------

def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    from priority_data_pipeline_azure_sql_db_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_ivf(emb, q, k=5, n_cells=8, n_probe=4).collect()
    }
    assert exact, "bruteforce returned nothing"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall:.2f}"
    # determinism: same inputs → identical result set
    approx2 = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_ivf(emb, q, k=5, n_cells=8, n_probe=4).collect()
    }
    assert approx == approx2


def test_resize_images_stub(spark):
    """Undecodable blobs keep the deterministic stub path (tagged)."""
    from priority_data_pipeline_azure_sql_db_spark.operators.multimodal import (
        documents_as_media,
        resize_images,
    )

    docs = spark.createDataFrame(
        [(1, "short"), (2, "a much longer document body " * 20)], "doc_id long, text string"
    )
    out = resize_images(documents_as_media(docs), width=64, height=64).collect()
    assert len(out) == 2
    want = 64 * 64 // 64
    for r in out:
        assert r.codec == "stub"
        assert len(r.content) == want
        assert (r.meta_width, r.meta_height) == (64, 64)


def test_resize_images_real_codecs(spark):
    """Round 10: resize is REAL for decodable visual media — decoded
    output has the target dims, image pixel content equals the kernel
    applied directly (PNG re-encode is lossless), and an MJPEG-AVI
    resizes every frame and re-muxes at the original fps."""
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs
    from priority_data_pipeline_azure_sql_db_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        resize_images,
    )

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (10, 14, 3), dtype=np.uint8)
    frames = [rng.integers(0, 256, (6, 6, 3), dtype=np.uint8) for _ in range(4)]
    rows = [
        (1, "image", bytearray(codecs.encode_bmp(px)), None, None, None),
        (2, "image", bytearray(codecs.encode_png(px)), None, None, None),
        (3, "video", bytearray(codecs.encode_avi_mjpeg(frames, fps=8.0)), None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r for r in resize_images(media, width=7, height=5).collect()}

    want = codecs.resize_pixels(px, 7, 5, "bilinear")
    for mid in (1, 2):
        assert out[mid].codec == "png"
        assert np.array_equal(codecs.decode_png(bytes(out[mid].content)), want)

    assert out[3].codec == "avi"
    fps, got = codecs.decode_avi_frames(bytes(out[3].content))
    assert fps == 8.0 and len(got) == 4
    for f, g in zip(frames, got):
        # MJPEG re-encode is lossy; the demuxed payload must be the
        # exact JPEG of the resized frame though
        assert g.shape == (5, 7, 3)
    _, payloads = codecs.avi_frame_payloads(bytes(out[3].content))
    # the resize operates on the DECODED (lossy) frames, so the expected
    # payload is encode(resize(decode(original payload)))
    _, src_frames = codecs.decode_avi_frames(
        bytes(codecs.encode_avi_mjpeg(frames, fps=8.0))
    )
    assert payloads == [
        codecs.encode_jpeg(
            codecs.resize_pixels(f, 7, 5, "bilinear"),
            quality=90, subsample="4:4:4",  # encode_avi_mjpeg's defaults
        )
        for f in src_frames
    ]


def test_sample_frames_fanout(spark):
    from priority_data_pipeline_azure_sql_db_spark.operators.multimodal import (
        documents_as_media,
        sample_frames,
    )

    docs = spark.createDataFrame(
        [(1, "x" * 16 * 95), (2, "tiny")], "doc_id long, text string"
    )
    out = sample_frames(documents_as_media(docs), every_nth=10, max_frames=8).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r.media_id, []).append(r)
    # 95 chunks, every 10th → ceil? positions 0,10,...,90 → 10 frames capped at 8
    assert len(by_id[1]) == 8
    # frame_index is the SOURCE chunk number (0, 10, ..., 70), not the
    # sample ordinal — temporal position survives sampling
    assert [r.frame_index for r in sorted(by_id[1], key=lambda r: r.frame_index)] == [10 * i for i in range(8)]
    assert all(r.source == "stub-slice" for r in by_id[1])
    assert all(len(r.frame) == 16 for r in by_id[1])
    # tiny blob still yields exactly one frame
    assert len(by_id[2]) == 1


def test_asof_join_null_ts_and_tolerance_guards(spark):
    """Round-12 review fixes, pinned: (a) a right row with a NULL ts
    never matches (it used to sort NULLS-FIRST and become the carried
    'latest' for every left row); (b) a left row with a NULL ts comes
    back unmatched in BOTH directions (forward used to hand it the
    earliest right row); (c) a non-positive tolerance raises like
    pandas instead of silently dropping every match; (d) an equal-ts
    click is the graded query's as-of match (merge_asof default)."""
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators.asof import asof_join

    r = spark.sql("""SELECT * FROM VALUES
        (1, CAST(NULL AS TIMESTAMP), 'ghost'),
        (1, TIMESTAMP '2026-01-01 00:05:00', 'real') AS t(k, rts, v)""")
    l = spark.sql(
        "SELECT * FROM VALUES (1, TIMESTAMP '2026-01-01 00:01:00') "
        "AS t(k, ts)")
    # (a) backward at 00:01: the only candidate with rts <= ts is the
    # NULL-ts ghost — must be NO match, not 'ghost'
    row = asof_join(l, r, ["k"], "ts", "rts", ["v"]).collect()[0]
    assert row.v_asof is None and row.rts_asof is None

    # (b) NULL left ts: unmatched both directions
    ln = spark.sql(
        "SELECT * FROM VALUES (1, CAST(NULL AS TIMESTAMP)) AS t(k, ts)")
    for d in ("backward", "forward"):
        row = asof_join(ln, r, ["k"], "ts", "rts", ["v"],
                        direction=d).collect()[0]
        assert row.v_asof is None, d

    # (c) sign-error tolerance: loud, not all-NULL
    with pytest.raises(ValueError, match="positive"):
        asof_join(l, r, ["k"], "ts", "rts", ["v"], tolerance_seconds=-60)

    # (d) graded-query tie semantics: a same-instant click matches
    from priority_data_pipeline_azure_sql_db_spark.queries import (
        asof_last_click_before_error,
    )
    import os
    import tempfile

    tmp = tempfile.mkdtemp(prefix="asof_tie_")
    spark.createDataFrame(
        [(1, "2026-01-01 00:10:00", 10, "click", 1.0, "{}"),
         (1, "2026-01-01 00:10:00", 11, "error", 1.0, "{}"),
         # and one user where the click's event_id sorts AFTER the
         # error's — the old (ts, event_id) order missed this one
         (2, "2026-01-01 00:10:00", 21, "error", 1.0, "{}"),
         (2, "2026-01-01 00:10:00", 22, "click", 1.0, "{}")],
        "user_id bigint, ts string, event_id bigint, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")) \
        .write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
    got = {r.user_id: r.last_click_ts
           for r in asof_last_click_before_error(spark, tmp).collect()}
    assert got[1] is not None and got[2] is not None  # both ties match


def test_asof_join_generic(spark, sf_dir):
    """Cross-table as-of join equals the inline window form on the same
    data; exact-match, direction, and tolerance behave like merge_asof."""
    from priority_data_pipeline_azure_sql_db_spark.operators.asof import asof_join
    from priority_data_pipeline_azure_sql_db_spark.queries import (
        asof_last_click_before_error,
    )
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    e = load_table(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("click_id")
    )
    # round-12: the graded query adopted merge_asof's exact-match
    # DEFAULT (a same-instant click is the as-of match), so the
    # reusable operator must agree under allow_exact_matches=True
    got = asof_join(
        errors, clicks, on=["user_id"], left_ts="ts", right_ts="cts",
        right_cols=["click_id"], allow_exact_matches=True,
    )
    want = {
        r.event_id: r.last_click_ts
        for r in asof_last_click_before_error(spark, sf_dir).collect()
    }
    rows = got.collect()
    assert len(rows) == len(want)
    for r in rows:
        assert want[r.event_id] == r.cts_asof

    l = spark.sql("SELECT * FROM VALUES (1, TIMESTAMP '2026-01-01 00:01:00') AS t(k, ts)")
    r = spark.sql("""SELECT * FROM VALUES
        (1, TIMESTAMP '2026-01-01 00:01:00', 'same'),
        (1, TIMESTAMP '2026-01-01 00:05:00', 'later') AS t(k, rts, v)""")
    assert asof_join(l, r, ["k"], "ts", "rts", ["v"]).collect()[0].v_asof == "same"
    assert asof_join(l, r, ["k"], "ts", "rts", ["v"],
                     allow_exact_matches=False).collect()[0].v_asof is None
    assert asof_join(l, r, ["k"], "ts", "rts", ["v"], direction="forward",
                     allow_exact_matches=False).collect()[0].v_asof == "later"
    assert asof_join(l, r, ["k"], "ts", "rts", ["v"], direction="forward",
                     allow_exact_matches=False,
                     tolerance_seconds=60).collect()[0].v_asof is None


def test_interval_join_generic(spark, sf_dir):
    """Bucketized interval join equals the registered range-join query's
    pair set on the events fixture, and respects configurable bounds."""
    from priority_data_pipeline_azure_sql_db_spark.operators.interval import interval_join
    from priority_data_pipeline_azure_sql_db_spark.queries import range_join_close_events
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    e = load_table(spark, sf_dir, "events")
    a = e.select(F.col("event_id").alias("id_a"), "user_id", F.col("ts").alias("ats"))
    b = e.select(F.col("event_id").alias("id_b"), "user_id", F.col("ts").alias("bts"))
    got = {
        (r.id_a, r.id_b)
        for r in interval_join(a, b, ["user_id"], "ats", "bts",
                               lower_seconds=0, upper_seconds=60).collect()
    }
    want = {(r.id_a, r.id_b) for r in range_join_close_events(spark, sf_dir).collect()}
    assert got == want and got

    # bounds: lower exclusive by default, inclusive on demand
    l = spark.sql("SELECT * FROM VALUES (1, 100, TIMESTAMP '2026-01-01 00:00:00') AS t(k, lid, ts)")
    r = spark.sql("""SELECT * FROM VALUES
        (1, 200, TIMESTAMP '2026-01-01 00:00:00'),
        (1, 201, TIMESTAMP '2026-01-01 00:00:30'),
        (1, 202, TIMESTAMP '2026-01-01 00:01:00'),
        (1, 203, TIMESTAMP '2026-01-01 00:01:01') AS t(k, rid, rts)""")
    ids = {x.rid for x in interval_join(l, r, ["k"], "ts", "rts", 0, 60).collect()}
    assert ids == {201, 202}
    ids = {x.rid for x in interval_join(l, r, ["k"], "ts", "rts", 0, 60,
                                        inclusive_lower=True).collect()}
    assert ids == {200, 201, 202}


def test_interval_join_fractional_bounds(spark):
    """Fractional-second bounds: the bucket width must be derived from the
    rounded ms bounds (lower=0.0009 ≈ 1ms, upper=1.0 → width 999ms), or a
    pair whose delta equals the full span falls outside the two candidate
    buckets and is silently dropped."""
    from priority_data_pipeline_azure_sql_db_spark.operators.interval import interval_join

    l = spark.sql("SELECT * FROM VALUES (1, TIMESTAMP '2026-01-01 00:00:00') AS t(k, ts)")
    r = spark.sql("""SELECT * FROM VALUES
        (1, 900, TIMESTAMP '2026-01-01 00:00:00.9'),
        (1, 1000, TIMESTAMP '2026-01-01 00:00:01') AS t(k, rid, rts)""")
    ids = {x.rid for x in interval_join(l, r, ["k"], "ts", "rts",
                                        lower_seconds=0.0009,
                                        upper_seconds=1.0).collect()}
    assert ids == {900, 1000}


def test_connected_components_matches_union_find(spark):
    """Min-label propagation vs a driver-side union-find oracle on a graph
    with a chain (diameter > 1), a triangle, an isolated edge."""
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]
    from priority_data_pipeline_azure_sql_db_spark.operators.graph import (
        canonical_docs,
        connected_components,
    )

    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {r.node: r.component for r in connected_components(df).collect()}

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    want = {n: find(n) for n in parent}
    assert got == want

    canon = {r.doc_id: (r.canonical_id, r.cluster_size)
             for r in canonical_docs(df).collect()}
    assert canon[4] == (1, 4) and canon[12] == (10, 3) and canon[21] == (20, 2)


def test_connected_components_raises_past_max_iter(spark):
    """A chain longer than max_iter must fail loudly, not return partial
    components — on the DISTRIBUTED loop (the small-graph union-find
    fast path needs no iterations; disable it to exercise the guard)."""
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators.graph import (
        connected_components,
    )

    chain = [(i, i + 1) for i in range(8)]
    df = spark.createDataFrame(chain, "id_a bigint, id_b bigint")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2, local_edge_threshold=0)
    # and converges fine with room
    out = connected_components(df, max_iter=12, local_edge_threshold=0)
    assert {r.component for r in out.collect()} == {0}


def test_connected_components_local_equals_distributed(spark):
    """The round-13 union-find fast path must label exactly like the
    distributed loop — min member id per component, same node set —
    including duplicate/reversed edges, self-loops, and singleton-free
    output; and a threshold the graph exceeds must fall back."""
    from priority_data_pipeline_azure_sql_db_spark.operators.graph import (
        connected_components,
    )

    edges = [(5, 3), (3, 5), (3, 9), (20, 21), (7, 7), (100, 2), (2, 1)]
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    local = {(r.node, r.component)
             for r in connected_components(df).collect()}
    dist = {(r.node, r.component)
            for r in connected_components(
                df, local_edge_threshold=0).collect()}
    assert local == dist
    assert local == {(3, 3), (5, 3), (9, 3), (20, 20), (21, 20), (7, 7),
                     (1, 1), (2, 1), (100, 1)}
    # a threshold smaller than the edge count falls back (same labels)
    fb = {(r.node, r.component)
          for r in connected_components(
              df, local_edge_threshold=3).collect()}
    assert fb == dist


def test_pack_sequences_straddle_and_shard(spark):
    """A doc crossing the budget boundary spans 2 sequences; shard-local
    packing restarts offsets per shard. Global-stream semantics need the
    explicit GLOBAL opt-in since round 8 (the default derives shards)."""
    from priority_data_pipeline_azure_sql_db_spark.operators.pack import (
        GLOBAL,
        pack_sequences,
    )

    rows = [(1, "a b c"), (2, "d e f g"), (3, "h i")]  # 3,4,2 tokens
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r
           for r in pack_sequences(df, budget=5, shard_col=GLOBAL).collect()}
    assert (out[1].first_seq, out[1].offset_in_seq, out[1].n_seqs_spanned) == (0, 0, 1)
    # doc 2: tokens 3..6 -> crosses the 5-token boundary, spans seqs 0-1
    assert (out[2].first_seq, out[2].offset_in_seq, out[2].n_seqs_spanned) == (0, 3, 2)
    assert (out[3].first_seq, out[3].offset_in_seq, out[3].n_seqs_spanned) == (1, 2, 1)

    sharded = spark.createDataFrame(
        [("s0", 1, "a b c"), ("s0", 2, "d e f"), ("s1", 9, "x y z w")],
        "shard string, doc_id bigint, text string",
    )
    out2 = {r.doc_id: r for r in
            pack_sequences(sharded, budget=4, shard_col="shard").collect()}
    # shard s1 starts its own stream at offset 0
    assert (out2[9].first_seq, out2[9].offset_in_seq) == (0, 0)
    assert (out2[2].first_seq, out2[2].offset_in_seq, out2[2].n_seqs_spanned) == (0, 3, 2)


def test_pii_scrub_redacts_and_counts(spark):
    from priority_data_pipeline_azure_sql_db_spark.operators.text import pii_scrub

    df = spark.createDataFrame(
        [(1, "mail me at a.b+c@ex-ample.org or call +1 (555) 010-0199 now"),
         (2, "no pii here")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in pii_scrub(df).collect()}
    assert (out[1].n_emails, out[1].n_phones) == (1, 1)
    assert (out[2].n_emails, out[2].n_phones) == (0, 0)


def test_html_extract_main_content_rules(spark):
    """HTML main-content extraction (round 13): tag-level drops,
    link-density gate, block min-length, entity unescape, <br> block
    split, malformed-markup totality, and the Arrow operator returning
    the same result as the per-string kernel."""
    from priority_data_pipeline_azure_sql_db_spark.operators.text import (
        _extract_main_content_str as x,
        extract_main_content,
    )

    para = "The quick brown fox jumps over the lazy dog again tonight."
    # drop tags: nav/footer/style/script subtrees vanish wholesale
    page = (
        "<html><head><style>p{color:red}</style></head><body>"
        '<nav><a href="/">Home</a> <a href="/a">About page link</a></nav>'
        f"<article><p>{para}</p></article>"
        "<script>var x = 'long enough to pass length rules';</script>"
        '<footer>Copyright and a trailing legal sentence long enough.</footer>'
        "</body></html>"
    )
    assert x(page) == para
    # link-density gate: a long all-links block dies, a low-density one
    # of the same length survives
    links = ('<div><a href="/1">First related article teaser</a> '
             '<a href="/2">Second related article teaser</a></div>')
    assert x(links) == ""
    mixed = ('<div>Mostly prose with one small <a href="/x">link</a> '
             "inside a clearly long enough block of text.</div>")
    assert x(mixed) != ""
    # min length: short blocks die even with zero links
    assert x("<p>short block</p>") == ""
    # entities unescape; whitespace collapses; blocks join with \n
    two = ("<p>First paragraph with &amp; entity and    wide   gaps "
           "kept long.</p><p>Second\tparagraph also definitely long "
           "enough to keep.</p>")
    got = x(two)
    assert got.count("\n") == 1 and "&" in got and "  " not in got
    # <br> (round 14, jusText conformance): a SINGLE <br> is a line
    # break inside the paragraph — short lines that only together
    # clear min_len survive as ONE block (the old per-<br> flush
    # shattered and dropped them)
    lines = "<p>Line one here<br>line two here<br>line three here</p>"
    assert x(lines) == "Line one here line two here line three here"
    # ...while <br><br> (whitespace between allowed) IS a block
    # boundary, each side gated independently
    a25 = "First paragraph clearly over the minimum length rule."
    b25 = "Second paragraph also clearly over the minimum length."
    assert x(f"<p>{a25}<br><br>{b25}</p>") == f"{a25}\n{b25}"
    assert x(f"<p>{a25}<br> \n <br>{b25}</p>") == f"{a25}\n{b25}"
    assert x("<p>tiny<br>also tiny</p>") == ""  # still under min_len
    # nested <a> (round 14, HTML5 conformance): a second <a> start
    # implicitly closes the first, so plain text after the inner
    # </a> is NOT link text — density stays low and the block lives
    nested = ('<div><a href="/x">link<a href="/y">deep</a> '
              "trailing plain prose long enough to clear every "
              "minimum comfortably here</div>")
    assert "trailing plain prose" in x(nested)
    # totality: tag soup and empties never raise
    assert x("<div><p>unclosed <b>bold <a href=") == ""
    assert x("") == "" and x(None) == ""

    # distributed operator ≡ kernel, schema (doc_id, content)
    df = spark.createDataFrame(
        [(1, page), (2, links), (3, None)], "doc_id bigint, html string"
    )
    out = {r.doc_id: r.content
           for r in extract_main_content(df, "html", "doc_id").collect()}
    assert out == {1: para, 2: "", 3: ""}


def _carry_fixture(spark, payload_col, payloads):
    """One row per payload, with carried columns of assorted types —
    every one null on some row, the bigint above 2^53 (where a pandas
    float64 round trip would lose it) — and a null-id row."""
    import datetime
    import decimal

    rows = [
        (1, payloads[0], 2**60 + 1, "src-a", 0.5,
         datetime.date(2020, 1, 2), datetime.datetime(2020, 1, 2, 3, 4, 5, 6),
         decimal.Decimal("12345678901234567.12"), [1, None], ("x", 1)),
        (2, payloads[1], None, None, None, None, None, None, None, None),
        (3, payloads[2], -7, "src-b", -1.25, datetime.date(1999, 12, 31),
         datetime.datetime(1999, 12, 31, 23, 59, 59), decimal.Decimal("-1"),
         [], (None, None)),
        (None, payloads[3], 5, "src-null-id", 2.0, None, None, None, [3],
         ("y", 2)),
    ]
    return spark.createDataFrame(
        rows,
        f"doc_id bigint, {payload_col} string, big bigint, src string, "
        "d double, dt date, ts timestamp, dec decimal(20,2), "
        "arr array<int>, st struct<a:string,b:int>",
    )


def _by_id(df):
    return sorted((r.asDict(recursive=True) for r in df.collect()),
                  key=lambda r: (r["doc_id"] is None, r["doc_id"]))


def test_extract_main_content_carry_matches_join_back(spark):
    """carry= returns the input's other columns unchanged from the Arrow
    kernel: the same rows, values and types as joining them back by id
    (once null ids are filtered, which the inner join-back did), and
    per row — null id included — when nothing is filtered."""
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators.text import (
        extract_main_content,
    )

    para = "<p>A paragraph of plain prose that is long enough to keep.</p>"
    df = _carry_fixture(spark, "html", [para, "<p>short</p>", None, para])
    extra = [c for c in df.columns if c not in ("doc_id", "html")]
    join_back = extract_main_content(df.select("doc_id", "html")).join(
        df.select("doc_id", *extra), "doc_id")
    carried = extract_main_content(
        df.filter(F.col("doc_id").isNotNull()), carry=extra)
    assert carried.schema == join_back.schema
    assert _by_id(carried) == _by_id(join_back)
    assert len(_by_id(carried)) == 3  # the null id is gone

    every_row = _by_id(extract_main_content(df, carry=extra))
    assert [r["doc_id"] for r in every_row] == [1, 2, 3, None]
    assert every_row[0]["big"] == 2**60 + 1
    assert every_row[3]["src"] == "src-null-id"
    with pytest.raises(ValueError, match="cannot carry"):
        extract_main_content(df, carry=["content"])


def test_ngram_contamination_finds_planted_overlap(spark):
    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import (
        ngram_contamination,
    )

    shared = "the quick brown fox jumps over the lazy dog"
    train = spark.createDataFrame(
        [(1, f"prefix {shared} suffix"), (2, "completely different words here")],
        "doc_id bigint, text string",
    )
    evalset = spark.createDataFrame(
        [(100, f"eval context {shared} trailing")], "doc_id bigint, text string"
    )
    got = {(r.train_id, r.eval_id): r.n_shared
           for r in ngram_contamination(train, evalset, k=5).collect()}
    assert (1, 100) in got and got[(1, 100)] >= 5
    assert not any(t == 2 for t, _ in got)


def test_chunk_documents_overlap_semantics(spark):
    """Chunk boundaries: stride overlap, short tail chunk, and a
    shorter-than-one-chunk doc emitting exactly one chunk."""
    from priority_data_pipeline_azure_sql_db_spark.operators.pack import chunk_documents

    long_doc = " ".join(f"w{i}" for i in range(10))   # 10 tokens
    df = spark.createDataFrame(
        [(1, long_doc), (2, "a b")], "doc_id bigint, text string"
    )
    out = [(r.doc_id, r.chunk_id, r.chunk_text, r.n_tokens)
           for r in chunk_documents(df, chunk_tokens=4, stride=3).collect()]
    got = {(d, c): (t, n) for d, c, t, n in out}
    # starts at 1,4,7 (last start <= 10-4+1=7): chunks of 4,4,4 tokens
    assert got[(1, 0)] == ("w0 w1 w2 w3", 4)
    assert got[(1, 1)] == ("w3 w4 w5 w6", 4)
    assert got[(1, 2)] == ("w6 w7 w8 w9", 4)
    assert (1, 3) not in got
    # short doc: one chunk, actual token count
    assert got[(2, 0)] == ("a b", 2)


def test_chunk_documents_tail_never_dropped(spark):
    """(n - chunk) % stride != 0 must still emit the short tail chunk —
    the r5 bound dropped up to stride-1 trailing tokens (ADVICE r5)."""
    from priority_data_pipeline_azure_sql_db_spark.operators.pack import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(11)))],  # 11 tokens
        "doc_id bigint, text string",
    )
    out = {r.chunk_id: (r.chunk_text, r.n_tokens)
           for r in chunk_documents(df, chunk_tokens=4, stride=3).collect()}
    # starts 1,4,7,10: last grid start past n-chunk+1 emits the 2-token tail
    assert out[3] == ("w9 w10", 2)
    # every token appears in some chunk
    covered = {t for text, _ in out.values() for t in text.split()}
    assert covered == {f"w{i}" for i in range(11)}
    # exact coverage emits no redundant fully-contained final chunk
    df2 = spark.createDataFrame([(1, "a b c d")], "doc_id bigint, text string")
    out2 = chunk_documents(df2, chunk_tokens=4, stride=3).collect()
    assert len(out2) == 1 and out2[0].n_tokens == 4


def _pack_greedy_reference(items, budget):
    """Pure-Python next-fit: (id, n) in id order → (id, seq, offset)."""
    out, seq, used = [], -1, 0
    for i, n in sorted(items):
        if seq < 0 or used + n > budget:
            seq, used = seq + 1, 0
        out.append((i, seq, used, n > budget))
        used += n
    return out


def test_pack_greedy_never_splits_and_matches_reference(spark):
    from priority_data_pipeline_azure_sql_db_spark.operators.pack import pack_greedy

    docs = [(i, " ".join("w" for _ in range(3 + (i * 7) % 11))) for i in range(40)]
    docs.append((100, " ".join("w" for _ in range(25))))  # oversized
    df = spark.createDataFrame(docs, "doc_id bigint, text string").withColumn(
        "shard", (F.col("doc_id") % 3).cast("bigint")
    )
    got = pack_greedy(df, budget=12, shard_col="shard").collect()
    # every doc exactly once — never split, never dropped
    assert sorted(r.doc_id for r in got) == sorted(i for i, _ in docs)
    by_shard = {}
    for r in got:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rows in by_shard.items():
        # matches the pure-Python reference scan per shard
        items = [(r.doc_id, r.n_tokens) for r in rows]
        want = _pack_greedy_reference(items, 12)
        assert sorted((r.doc_id, r.seq_id, r.offset_in_seq, r.overflow)
                      for r in rows) == sorted(want)
        # budget respected unless the sequence is a lone overflow doc
        per_seq = {}
        for r in rows:
            per_seq.setdefault(r.seq_id, []).append(r)
        for members in per_seq.values():
            if len(members) == 1 and members[0].overflow:
                continue
            assert sum(m.n_tokens for m in members) <= 12
        # order preserved: ascending doc_id ⇒ non-decreasing seq_id
        rows = sorted(rows, key=lambda r: r.doc_id)
        assert all(a.seq_id <= b.seq_id for a, b in zip(rows, rows[1:]))


def test_bpe_merged_count_exact_and_bounded(spark):
    from priority_data_pipeline_azure_sql_db_spark.operators import text as X

    df = spark.createDataFrame(
        [(1, "the cat"), (2, "thinking"), (3, ""), (4, "a 2024 test!")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: (r.n_pre, r.n_bpe, r.n_chars) for r in df.select(
        "doc_id",
        X.bpe_token_count(F.lower(F.col("text"))).alias("n_pre"),
        X.bpe_token_count_merged(F.col("text")).alias("n_bpe"),
        F.length(F.regexp_replace(F.lower("text"), "\\s+", "")).alias("n_chars"),
    ).collect()}
    # hand-derived under BPE_MERGES (priority order, global replace):
    # "the" → th+e → the (1); "cat" → c,at (2)
    assert out[1] == (2, 3, 6)
    # "thinking" → th,in,k,ing: (t,h) (i,n)x2 then (th,e)x0, (in,g)
    assert out[2] == (1, 4, 8)
    assert out[3][1] == 0  # empty text → 0 tokens
    # "a 2024 test!" → a | 2,0,2 | 4 | t,es,t | ! (pre: a,202,4,test,!)
    assert out[4] == (5, 9, 10)
    # bounds hold on every row: pre <= bpe <= chars
    for n_pre, n_bpe, n_chars in out.values():
        assert n_pre <= n_bpe <= max(n_chars, 0) or n_bpe == 0


def test_bpe_merged_count_overlapping_repeats(spark):
    """Adjacent repeats of one pair must ALL merge (ADVICE r6: the
    shared-boundary spelling consumed the next occurrence's space, so
    'banana' under (a,n) came out 5 symbols instead of real BPE's
    [b,an,an,a]). Checks Spark and the DuckDB oracle twin agree on the
    fixed semantics."""
    import duckdb

    from priority_data_pipeline_azure_sql_db_spark.operators import text as X

    merges = [("a", "n")]
    df = spark.createDataFrame(
        [(1, "banana"), (2, "nanana"), (3, "bananana band")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r.n for r in df.select(
        "doc_id",
        X.bpe_token_count_merged(F.col("text"), merges).alias("n"),
    ).collect()}
    # banana → b,an,an,a; nanana → n,an,an,a; bananana → b,an,an,an,a
    # band → b,an,d
    assert out == {1: 4, 2: 4, 3: 5 + 3}
    expr = X.bpe_oracle_sql_expr("t", merges)
    for text, want in [("banana", 4), ("nanana", 4), ("bananana band", 8)]:
        got = duckdb.sql(
            f"SELECT {expr} AS n FROM (SELECT '{text}' AS t)"
        ).fetchone()[0]
        assert got == want, (text, got, want)


def _bpe_train_reference(texts, n_merges, min_count):
    """Pure-Python BPE trainer: global pair count, subword-nmt's
    tie-break — ``max(stats, key=lambda x: (stats[x], x))``, i.e. the
    lexicographically GREATEST pair on count ties — merge everywhere
    left-to-right (within pre-tokens)."""
    import re

    words = []
    for t in texts:
        for w in re.findall(r"[a-z]+|[0-9]{1,3}|[^a-z0-9\s]", t.lower()):
            words.append(list(w))
    learned = []
    for _ in range(n_merges):
        counts = {}
        for w in words:
            for a, b in zip(w, w[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + 1
        if not counts:
            break
        (a, b), c = max(counts.items(), key=lambda kv: (kv[1], kv[0]))
        if c < min_count:
            break
        learned.append((a, b, c))
        for w in words:
            i = 0
            while i < len(w) - 1:
                if w[i] == a and w[i + 1] == b:
                    w[i: i + 2] = [a + b]
                i += 1
    return learned


def test_bigram_lm_unseen_context_fallback(spark):
    """A doc of entirely novel tokens must score exactly ln(1/V) per
    bigram — the smoothing limit, no division by zero, no nulls."""
    import math

    from priority_data_pipeline_azure_sql_db_spark.operators import text as X

    train = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog sat")], "doc_id bigint, text string"
    )
    score = spark.createDataFrame(
        [(9, "zx qy vk")], "doc_id bigint, text string"
    )
    out = X.bigram_lm_score(score, train_df=train).collect()
    assert len(out) == 1 and out[0].n_bigrams == 2
    v = 4  # train vocab: the, cat, sat, dog
    want = math.floor(math.log(0.1 / (0.1 * v)) * 1e6 + 0.5) / 1e6
    assert out[0].avg_logprob == want
    # seen bigrams score higher than unseen ones
    seen = X.bigram_lm_score(
        spark.createDataFrame([(8, "the cat sat")], "doc_id bigint, text string"),
        train_df=train,
    ).collect()[0]
    assert seen.avg_logprob > out[0].avg_logprob


def test_epoch_shuffle_reproducible_and_complete(spark):
    from priority_data_pipeline_azure_sql_db_spark.operators import text as X

    df = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    a = sorted(tuple(r) for r in X.epoch_shuffle(df, seed="epoch-0").collect())
    b = sorted(tuple(r) for r in X.epoch_shuffle(df, seed="epoch-0").collect())
    c = sorted(tuple(r) for r in X.epoch_shuffle(df, seed="epoch-1").collect())
    assert a == b            # same seed → bit-identical permutation
    assert a != c            # new seed → different permutation
    assert len(a) == 200 and len({t[0] for t in a}) == 200  # every doc once
    # per-shard positions are contiguous 0..k-1 (shard-major order is total)
    by_shard = {}
    for doc, shard, pos, _ in a:
        by_shard.setdefault(shard, []).append(pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))


def test_bpe_train_matches_reference(spark):
    from priority_data_pipeline_azure_sql_db_spark.operators import text as X

    texts = [
        "the theme of the thesis",
        "thin things that theorize",
        "a cat sat on the mat",
        "numbers 123 and 456 repeat 123",
        # overlapping adjacent repeats (ADVICE r6): the trainer and the
        # pure-Python iterative reference must agree on banana-like words
        "banana bandana nanana",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id bigint, text string")
    got = X.bpe_train_merges(df, n_merges=8, min_count=2)
    want = _bpe_train_reference(texts, 8, 2)
    assert got == want
    # learned table is consistent → usable by the inference half
    n = df.select(
        X.bpe_token_count_merged(F.col("text"), [(a, b) for a, b, _ in got])
        .alias("n")
    ).collect()
    assert all(r.n > 0 for r in n)


def test_pack_greedy_large_shard_matches_reference(spark):
    """The vectorized (cumsum + per-sequence searchsorted) shard scan
    must replay the sequential next-fit loop exactly on a big skewed
    shard — overflow docs, single-token docs, and exact-boundary fits
    all present."""
    import random

    rng = random.Random(7)
    items = []
    for i in range(20_000):
        r = rng.random()
        if r < 0.02:
            n = rng.randint(513, 2000)   # overflow
        elif r < 0.05:
            n = 1                        # near-empty doc (token_count
        else:                            # of "" is 1, so 1 is the floor)
            n = rng.randint(1, 512)
        items.append((i, n))
    from priority_data_pipeline_azure_sql_db_spark.operators.pack import pack_greedy

    df = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in items],
        "doc_id bigint, text string",
    ).withColumn("shard", F.lit(0).cast("bigint"))
    got = {
        r.doc_id: (r.seq_id, r.offset_in_seq, r.overflow)
        for r in pack_greedy(df, budget=512, shard_col="shard").collect()
    }
    want = _pack_greedy_reference(items, 512)
    assert len(got) == len(items)
    for doc_id, seq_id, off, ovf in want:
        assert got[doc_id] == (seq_id, off, ovf), doc_id


def _bpe_apply_priority_order(word, merges):
    """Independent inference oracle: apply each rule in PRIORITY ORDER,
    iterating that rule to fixpoint (leftmost-first), then move on —
    the 'consistent table' equivalence partner of the min-rank loop."""
    syms = list(word)
    for a, b in merges:
        changed = True
        while changed:
            changed = False
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                    changed = True
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
    return syms


def test_bpe_arrow_kernel_matches_expression_path(spark, sf_dir):
    """The mapInPandas min-rank kernel and the codegen replace chain are
    unrelated algorithms; on a consistent table they must agree on
    every real document."""
    from priority_data_pipeline_azure_sql_db_spark.operators import text as X
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    d = load_table(spark, sf_dir, "documents")
    expr = {r.doc_id: r.n for r in d.select(
        "doc_id", X.bpe_token_count_merged(F.col("text")).alias("n")
    ).collect()}
    arrow = {r.doc_id: r.n_tokens for r in X.bpe_token_counts_arrow(d).collect()}
    assert expr == arrow and len(expr) > 0


def test_bpe_arrow_kernel_large_vocab(spark):
    """1,000+-rule table (pure-Python-trained, hence consistent): the
    Arrow kernel must agree with the independent priority-order oracle
    on every word — the regime where the expression path is not viable."""
    import random
    import re

    from priority_data_pipeline_azure_sql_db_spark.operators import text as X

    rng = random.Random(11)
    vocab = ["".join(rng.choices("abcdefghij", k=rng.randint(3, 10)))
             for _ in range(700)]
    corpus = [" ".join(rng.choices(vocab, k=30)) for _ in range(90)]
    learned = _bpe_train_reference(corpus, 1200, 1)
    table = [(a, b) for a, b, _ in learned]
    assert len(table) >= 1000, f"seed corpus too small: {len(table)} merges"

    docs = [(i, " ".join(rng.choices(vocab, k=25))) for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {r.doc_id: r.n_tokens
           for r in X.bpe_token_counts_arrow(df, merges=table).collect()}
    for i, text in docs:
        want = sum(
            len(_bpe_apply_priority_order(w, table))
            for w in re.findall(r"[a-z]+|[0-9]{1,3}|[^a-z0-9\s]", text.lower())
        )
        assert got[i] == want, i


def test_bpe_train_batched(spark):
    """batch_merges > 1 must produce a CONSISTENT usable table (every
    rule part is a single char or an earlier rule's output) covering the
    requested size, and batch_merges=1 stays exactly the sequential
    reference (already checked in test_bpe_train_matches_reference)."""
    from priority_data_pipeline_azure_sql_db_spark.operators import text as X

    texts = [
        "the theme of the thesis", "thin things that theorize",
        "a cat sat on the mat", "banana bandana nanana",
        "numbers 123 and 456 repeat 123", "the thin cat theorizes",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id bigint, text string")
    got = X.bpe_train_merges(df, n_merges=12, min_count=2, batch_merges=4)
    assert len(got) > 4  # multiple batches adopted
    produced = set()
    for a, b, c in got:
        assert c >= 2
        for part in (a, b):
            assert len(part) == 1 or part in produced, (a, b)
        produced.add(a + b)
    # within every adopted batch, symbol sets were disjoint → all pair
    # counts are exact-at-adoption; the table tokenizes without error
    n = df.select(
        X.bpe_token_count_merged(F.col("text"), [(a, b) for a, b, _ in got])
        .alias("n")
    ).collect()
    assert all(r.n > 0 for r in n)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="batch_merges"):
        X.bpe_train_merges(df, batch_merges=0)


def test_bpe_arrow_kernel_16k_vocab(spark):
    """The ADVERTISED envelope (SURVEY §2.3: 16k-32k vocabs), tested at
    16k+ rules instead of claimed (VERDICT r7 "what's wrong #3"). The
    table is a synthetic prefix-chain vocabulary: for each word, rules
    ((w[:1],w[1]), (w[:2],w[2]), ...) ranked by left-part length. Every
    produced string has exactly ONE producing rule and every rule
    application only creates pairs of strictly higher rank, so min-rank
    and priority-order encoding provably coincide — the independent
    priority-order oracle is valid here just as on trained tables. Test
    docs are substrings/mutations of vocab words, so encodings stop at
    genuine partial-merge frontiers rather than collapsing to one
    token."""
    import random
    import re

    from priority_data_pipeline_azure_sql_db_spark.operators import text as X

    rng = random.Random(16)
    alpha = "abcdefghijklmnopqrst"
    vocab = sorted({
        "".join(rng.choices(alpha, k=11)) for _ in range(1900)
    })
    rules, seen = [], set()
    for lvl in range(2, 12):
        for w in vocab:
            p = w[:lvl]
            if len(p) == lvl and p not in seen:
                seen.add(p)
                rules.append((p[:-1], p[-1]))
    assert len(rules) >= 16000, len(rules)

    # docs: substrings and splices of vocab words → partial merges
    frags = []
    for _ in range(300):
        w = rng.choice(vocab)
        lo = rng.randint(0, 5)
        hi = rng.randint(lo + 2, 11)
        frags.append(w[lo:hi] + rng.choice(["", rng.choice(vocab)[:3]]))
    docs = [(i, " ".join(rng.choices(frags, k=20))) for i in range(20)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {r.doc_id: r.n_tokens
           for r in X.bpe_token_counts_arrow(df, merges=rules).collect()}

    memo = {}
    for i, text in docs:
        want = 0
        for w in re.findall(r"[a-z]+|[0-9]{1,3}|[^a-z0-9\s]", text.lower()):
            if w not in memo:
                memo[w] = len(_bpe_apply_priority_order(w, rules))
            want += memo[w]
        assert got[i] == want, i
    # the table genuinely merges (docs don't stay at char granularity)
    chars = sum(len(w) for i, t in docs
                for w in re.findall(r"[a-z]+", t))
    assert sum(got.values()) < chars


def test_bpe_train_batched_2k_merges(spark):
    """Batched training at production vocab scale: 2,000 merges in
    ≈ n_merges/batch_merges count passes, not 2,000 sequential Spark
    jobs — the claim that makes a 32k vocab trainable is asserted via
    the trainer's stats hook. The learned table must be consistent
    (every part is a char or an earlier output) and fully usable by the
    Arrow inference kernel."""
    import random

    from priority_data_pipeline_azure_sql_db_spark.operators import text as X

    rng = random.Random(2)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted({
        "".join(rng.choices(alpha, k=rng.randint(8, 12)))
        for _ in range(700)
    })
    # every word twice → every chain pair clears min_count=2
    docs = [(i, " ".join(rng.choices(vocab, k=40))) for i in range(60)]
    corpus = [t for _, t in docs] + [" ".join(vocab), " ".join(vocab)]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id bigint, text string"
    )
    stats = {}
    got = X.bpe_train_merges(
        df, n_merges=2000, min_count=2, batch_merges=256, stats=stats
    )
    assert len(got) == 2000
    # adoption-conflict skipping costs rounds early (the 26-char
    # alphabet caps disjoint pairs until merged symbols diversify), so
    # the ideal ceil(2000/256) = 8 is an asymptote; measured ~49. The
    # budget must stay O(n/batch)-ish — nowhere near one-job-per-merge
    assert 8 <= stats["rounds"] <= 64, stats
    produced = set()
    for a, b, c in got:
        assert c >= 2
        for part in (a, b):
            assert len(part) == 1 or part in produced, (a, b)
        produced.add(a + b)
    table = [(a, b) for a, b, _ in got]
    n = {r.doc_id: r.n_tokens for r in X.bpe_token_counts_arrow(
        spark.createDataFrame(docs, "doc_id bigint, text string"),
        merges=table,
    ).collect()}
    assert all(v > 0 for v in n.values()) and len(n) == len(docs)


def test_bpe_arrow_kernel_ascii_whitespace_parity(spark):
    """Python \\s matches Unicode whitespace unless re.ASCII is set;
    Java regex and RE2 are ASCII-only — an NBSP document must tokenize
    identically on the Arrow kernel and the expression path (review
    finding, round 7)."""
    from priority_data_pipeline_azure_sql_db_spark.operators import text as X

    df = spark.createDataFrame(
        [(1, "a b"), (2, "x y z")], "doc_id bigint, text string"
    )
    expr = {r.doc_id: r.n for r in df.select(
        "doc_id", X.bpe_token_count_merged(F.col("text")).alias("n")
    ).collect()}
    arrow = {r.doc_id: r.n_tokens
             for r in X.bpe_token_counts_arrow(df).collect()}
    assert expr == arrow
    assert expr[1] == 3  # a, NBSP, b — NBSP is a symbol, not whitespace


def test_source_token_budget_exact_prefix(spark):
    """Budget admission is an exact epoch-order prefix per source: the
    first over-budget doc and everything after it are cut, overrides
    beat the default, and the same seed is bit-reproducible."""
    from priority_data_pipeline_azure_sql_db_spark.operators import text as X

    rows = [(i, "w " * 10 + "w", "a" if i % 2 == 0 else "b") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out = X.source_token_budget(
        df, budgets={"a": 33}, default_budget=55, seed="s"
    ).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    # 11 tokens per doc: budget 33 → exactly 3 docs; 55 → exactly 5
    assert len(by_src["a"]) == 3 and len(by_src["b"]) == 5
    for src, rs in by_src.items():
        rs = sorted(rs, key=lambda r: r.mix_pos)
        assert [r.mix_pos for r in rs] == list(range(len(rs)))  # prefix
        assert rs[-1].cum_tokens == 11 * len(rs)
    again = X.source_token_budget(
        df, budgets={"a": 33}, default_budget=55, seed="s"
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    # different seed admits a different doc set for the capped source
    other = X.source_token_budget(
        df, budgets={"a": 33}, default_budget=55, seed="s2"
    ).collect()
    assert {r.doc_id for r in other if r.source == "a"} != {
        r.doc_id for r in out if r.source == "a"
    }


def test_length_bucket_batches_schedule(spark):
    """Batch schedule invariants: padded_len is the least power of two
    >= n_tokens (exact at powers of two — the float-log2 trap), every
    batch holds at most max_batch_tokens/padded_len docs, positions are
    contiguous, and overlong docs batch alone."""
    from priority_data_pipeline_azure_sql_db_spark.operators.pack import (
        length_bucket_batches,
    )

    rows = [(i, "w " * n + "w") for i, n in enumerate(
        [0, 1, 2, 3, 7, 8, 15, 16, 17, 31, 32, 33, 63, 64, 100, 200] * 4
    )]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = length_bucket_batches(df, max_batch_tokens=64, seed="s").collect()
    assert len(out) == len(rows)
    by_batch = {}
    for r in out:
        p = r.padded_len
        assert p >= r.n_tokens and (p == 1 or p // 2 < r.n_tokens)  # least pow2
        assert p == 1 << r.bucket
        assert len(r.shard) == 1  # default shard_width=1: one hex digit
        by_batch.setdefault((r.shard, r.bucket, r.batch_in_bucket), []).append(r)
    for (_, bucket, _), members in by_batch.items():
        cap = max(1, 64 // (1 << bucket))
        assert len(members) <= cap
        assert sorted(m.pos_in_batch for m in members) == list(range(len(members)))
    # doc longer than the batch budget (201 tokens → padded 256 > 64)
    # still gets a singleton batch
    long_batches = [k for k, ms in by_batch.items() if ms[0].n_tokens == 201]
    assert long_batches and all(len(by_batch[k]) == 1 for k in long_batches)

    # widening the shard prefix REFINES the schedule: a width-2 shard is
    # a subdivision of its width-1 parent, and within any (shard2,
    # bucket) the relative doc order is the width-1 order restricted to
    # that shard (same (key, id) sort both widths)
    wide = length_bucket_batches(
        df, max_batch_tokens=64, seed="s", shard_width=2
    ).collect()
    n1 = {r.doc_id: r for r in out}
    assert len(wide) == len(rows)
    for r in wide:
        assert r.shard[:1] == n1[r.doc_id].shard
        assert (r.n_tokens, r.bucket, r.padded_len) == (
            n1[r.doc_id].n_tokens, n1[r.doc_id].bucket, n1[r.doc_id].padded_len
        )

    # width 0 = explicit global opt-in: bucket-only schedule, '' shard
    flat = length_bucket_batches(
        df, max_batch_tokens=64, seed="s", shard_width=0
    ).collect()
    assert {r.shard for r in flat} == {""}

    # plan guard (VERDICT r7 "what's wrong #1"): the default schedule
    # window must be keyed by shard, never bucket alone
    import re
    plan = (
        length_bucket_batches(df, max_batch_tokens=64, seed="s")
        ._jdf.queryExecution().executedPlan().toString()
    )
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("shard" in s for s in specs), plan


def test_materialized_sequences_conserve_and_fill(spark, sf_dir):
    """Materialization invariants: per-sequence token counts conserve
    the corpus total, every sequence except each shard's last holds
    exactly `budget` tokens, and seq ids are contiguous from 0."""
    from priority_data_pipeline_azure_sql_db_spark.operators.pack import (
        materialize_packed_sequences,
    )
    from priority_data_pipeline_azure_sql_db_spark.operators.text import token_count
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    d = load_table(spark, sf_dir, "documents").withColumn(
        "shard", (F.col("doc_id") % 4).cast("bigint")
    )
    out = materialize_packed_sequences(d, budget=128, shard_col="shard").collect()
    total = d.select(F.sum(token_count(F.col("text")))).collect()[0][0]
    assert sum(r.n_tokens for r in out) == total
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rs in by_shard.items():
        rs = sorted(rs, key=lambda r: r.seq_id)
        assert [r.seq_id for r in rs] == list(range(len(rs)))
        assert all(r.n_tokens == 128 for r in rs[:-1])
        assert 1 <= rs[-1].n_tokens <= 128
        assert len({r.text_md5 for r in rs}) == len(rs)  # payloads distinct


def test_hash_sample_weighted_gates(spark):
    """Weighted sampling invariants: weight 0 keeps nothing, weight 1
    keeps everything, intermediate weights land near their expectation,
    and membership is reproducible and MONOTONE in the weight (a doc
    kept at w stays kept at any w' >= w — the property that makes
    weight sweeps consistent)."""
    from priority_data_pipeline_azure_sql_db_spark.operators.sample import (
        hash_sample_weighted,
    )

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    assert hash_sample_weighted(df, "doc_id", F.lit(0.0)).count() == 0
    assert hash_sample_weighted(df, "doc_id", F.lit(1.0)).count() == 2000
    assert hash_sample_weighted(df, "doc_id", F.lit(5.0)).count() == 2000  # clamp
    n_half = hash_sample_weighted(df, "doc_id", F.lit(0.5)).count()
    assert 880 <= n_half <= 1120, n_half  # ~Binomial(2000, .5), 5+ sigma
    a = {r.doc_id for r in hash_sample_weighted(df, "doc_id", F.lit(0.3)).collect()}
    b = {r.doc_id for r in hash_sample_weighted(df, "doc_id", F.lit(0.3)).collect()}
    c = {r.doc_id for r in hash_sample_weighted(df, "doc_id", F.lit(0.6)).collect()}
    assert a == b          # reproducible
    assert a <= c          # monotone in weight
    d = {r.doc_id for r in
         hash_sample_weighted(df, "doc_id", F.lit(0.3), seed="other").collect()}
    assert a != d          # seed-sensitive


def test_duplicated_spans_known_overlaps(spark):
    """Substring-level dedup: hand-built docs with known shared token
    runs. Asserts exact span boundaries and lengths, maximality (one
    island per contiguous run, not per gram), multiple distinct spans
    per pair, the min-length gate, and that same-doc self-matches are
    excluded."""
    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import duplicated_spans

    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"
    shared2 = "one two three four five six seven eight nine ten"
    rows = [
        # doc 0: shared at offset 2, shared2 at offset 17
        (0, "x0 x1 " + shared + " y0 y1 y2 " + shared2 + " z0"),
        # doc 1: shared at offset 0, shared2 at offset 15
        (1, shared + " q0 q1 q2 " + shared2),
        # doc 2: a 9-token overlap with doc 0's shared run (below the
        # k+min_run-1 = 10 gate at k=8, min_run=3)
        (2, "p0 p1 p2 alpha bravo charlie delta echo foxtrot golf hotel india p3"),
        # doc 3: no overlap with anything
        (3, "m0 m1 m2 m3 m4 m5 m6 m7 m8 m9 m10 m11 m12 m13"),
        # doc 4: internal repeat of an 8-gram (self-pairs must not appear)
        (4, "r0 r1 r2 r3 r4 r5 r6 r7 r0 r1 r2 r3 r4 r5 r6 r7"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = duplicated_spans(df, k=8, min_run=3)
    got = {(r.id_a, r.id_b, r.start_a, r.start_b, r.n_tokens)
           for r in out.collect()}
    assert (0, 1, 2, 0, 12) in got       # the 12-token shared run
    assert (0, 1, 17, 15, 10) in got     # the 10-token shared2 run
    # no span involves doc 2 (9 < 10 gate), doc 3 (no overlap), or doc 4
    assert all(a in (0, 1) and b in (0, 1) for a, b, *_ in got), got
    assert len(got) == 2                 # maximal: exactly one per run

    # lowering the gate admits doc 2's 9-token overlap at its offsets
    out2 = duplicated_spans(df, k=8, min_run=2)
    got2 = {(r.id_a, r.id_b, r.start_a, r.start_b, r.n_tokens)
            for r in out2.collect()}
    assert (0, 2, 2, 3, 9) in got2

    # gram-frequency cap: capping at 1 doc kills the boilerplate grams
    # (every matched gram here appears in >= 2 docs' streams)
    out3 = duplicated_spans(df, k=8, min_run=2, max_gram_freq=1)
    assert out3.count() == 0


def test_hashed_quality_score_exact_integer_math(spark):
    """The hashed linear classifier must match a pure-Python replay of
    its integer milli-unit contract exactly: same md5 bucket draws, same
    fixture weights, same BIGINT dot product — plus empty docs score 0
    (kept=False) and survive in the output."""
    import hashlib

    from priority_data_pipeline_azure_sql_db_spark.operators.text import (
        hashed_quality_score,
    )

    def draw48(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    n_buckets = 64
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the the the the"),
        (2, ""),
        (3, "   "),
        (4, "Mixed CASE tokens MIXED case TOKENS"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in
           hashed_quality_score(df, n_buckets=n_buckets).collect()}
    assert set(out) == {0, 1, 2, 3, 4}

    w = {b: draw48(f"qw-0:w:{b}") % 2001 - 1000 for b in range(n_buckets)}
    for doc_id, text in rows:
        toks = [t for t in text.lower().strip().split() if t]
        feats = {}
        for t in toks:
            feats[draw48(f"qw-0:{t}") % n_buckets] = \
                feats.get(draw48(f"qw-0:{t}") % n_buckets, 0) + 1
        lm = sum(w[b] * c for b, c in feats.items())
        r = out[doc_id]
        assert r.n_tokens == len(toks), doc_id
        assert r.n_feats == len(feats), doc_id
        assert r.logit_milli == lm, doc_id
        assert r.logit == lm / 1000.0, doc_id
        assert r.keep == (lm > 0), doc_id
    assert out[2].logit_milli == 0 and out[2].keep is False
    assert out[3].logit_milli == 0 and out[3].n_tokens == 0

    # custom weight table overrides the fixture draws
    wt = spark.createDataFrame(
        [(b, 1) for b in range(n_buckets)], "bucket bigint, w_milli bigint"
    )
    out2 = {r.doc_id: r.logit_milli
            for r in hashed_quality_score(df, n_buckets=n_buckets,
                                          weights=wt).collect()}
    assert out2[1] == 4  # all-ones weights: logit_milli = token count


def test_temperature_mix_sample_semantics(spark):
    """Temperature mixing: rates follow the p^alpha formula exactly
    (pure-Python replay, including the 48-bit gate), alpha=1 degenerates
    to uniform target_frac for every source, alpha<1 upsamples the small
    source relative to the big one, and membership is reproducible."""
    import hashlib
    import math

    from priority_data_pipeline_azure_sql_db_spark.operators.sample import (
        temperature_mix_sample,
    )

    # skewed corpus: 160 'web' docs, 30 'books', 10 'code'
    rows = ([(i, "web") for i in range(160)]
            + [(200 + i, "books") for i in range(30)]
            + [(300 + i, "code") for i in range(10)])
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    out = temperature_mix_sample(df, alpha=0.5, target_frac=0.5).collect()

    n = {"web": 160, "books": 30, "code": 10}
    N = 200
    w = {s: math.sqrt(n[s] / N) for s in n}
    z = sum(w.values())  # deterministic dict order (insertion) — fine
    rate = {
        s: math.floor(min(1.0, 0.5 * N * (w[s] / z) / n[s]) * 1e6 + 0.5) / 1e6
        for s in n
    }
    got_rates = {r.source: r.rate for r in out}
    for s in got_rates:
        assert abs(got_rates[s] - rate[s]) < 1e-12, s
    # alpha<1 flattens: small sources sample at a HIGHER rate
    assert rate["code"] > rate["books"] > rate["web"]

    def u(doc_id):
        h = hashlib.md5(f"mix-0:{doc_id}".encode()).hexdigest()[:12]
        return int(h, 16) / 281474976710656.0

    want = {(i, s) for i, s in rows if u(i) < rate[s]}
    assert {(r.doc_id, r.source) for r in out} == want
    assert want  # non-vacuous

    # alpha=1: proportional sampling — every source at exactly target_frac
    out1 = temperature_mix_sample(df, alpha=1.0, target_frac=0.25).collect()
    assert {r.rate for r in out1} == {0.25}

    import pytest as _pytest
    with _pytest.raises(ValueError, match="target_frac"):
        temperature_mix_sample(df, target_frac=0.0)


def test_remove_boilerplate_lines_known_docs(spark):
    """Line-level dedup: hand-built multi-line docs. The shared footer
    is dropped everywhere, within-doc repeats survive (df counts
    DISTINCT docs), trim-variant lines match, empty lines never count
    as boilerplate, line order is preserved, and a doc made entirely of
    boilerplate disappears under drop_empty."""
    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import (
        remove_boilerplate_lines,
    )

    docs = [
        (1, "alpha beta\nshared footer\nunique one"),
        (2, "gamma delta\n  shared footer  \nunique two"),
        (3, "solo line\nsolo line\n\nanother solo"),
        (4, "shared footer"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate_lines(df, min_docs=2).collect()
    }
    assert set(out) == {1, 2, 3}  # doc 4 is pure boilerplate -> gone
    assert out[1]["text"] == "alpha beta\nunique one"
    assert (out[1]["n_lines_kept"], out[1]["n_lines_dropped"]) == (2, 1)
    # trim-variant footer in doc 2 matched the boilerplate set, and the
    # surviving lines keep their ORIGINAL (untrimmed) spelling
    assert out[2]["text"] == "gamma delta\nunique two"
    # doc 3: "solo line" twice is a within-doc repeat (1 distinct doc ->
    # kept twice); the empty line is kept verbatim, never boilerplate
    assert out[3]["text"] == "solo line\nsolo line\n\nanother solo"
    assert (out[3]["n_lines_kept"], out[3]["n_lines_dropped"]) == (4, 0)

    kept_all = remove_boilerplate_lines(df, min_docs=2, drop_empty=False)
    empty = {r["doc_id"]: r for r in kept_all.collect()}[4]
    assert empty["text"] == "" and empty["n_lines_kept"] == 0


def test_remove_boilerplate_lines_min_docs_threshold(spark):
    """min_docs=3 keeps a line shared by only two documents."""
    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import (
        remove_boilerplate_lines,
    )

    df = spark.createDataFrame(
        [(1, "pair line\na"), (2, "pair line\nb"), (3, "c")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["text"]
        for r in remove_boilerplate_lines(df, min_docs=3).collect()
    }
    assert out[1] == "pair line\na" and out[2] == "pair line\nb"


def test_remove_boilerplate_lines_carry_matches_join_back(spark):
    """carry= rides the reassembly aggregate and returns exactly what a
    join-back by id returned: same rows (null-id docs and docs that are
    all boilerplate drop either way), values, types and column order,
    with and without stats and drop_empty."""
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import (
        remove_boilerplate_lines,
    )

    df = _carry_fixture(spark, "text", [
        "alpha beta\nshared footer\nunique one",
        "shared footer",
        "gamma\n  shared footer \n\nunique three",
        "shared footer\nnull id line",
    ])
    extra = [c for c in df.columns if c not in ("doc_id", "text")]
    for kw in ({}, {"emit_stats": True}, {"drop_empty": False}):
        join_back = remove_boilerplate_lines(
            df.select("doc_id", "text"), **kw
        ).join(df.select("doc_id", *extra), "doc_id")
        carried = remove_boilerplate_lines(df, carry=extra, **kw)
        assert carried.schema == join_back.schema, kw
        assert _by_id(carried) == _by_id(join_back), kw
    assert [r["doc_id"] for r in _by_id(
        remove_boilerplate_lines(df, carry=extra))] == [1, 3]
    with pytest.raises(ValueError, match="cannot carry"):
        remove_boilerplate_lines(df, carry=["n_lines_kept"])


def test_quantile_threshold_filter_semantics(spark):
    """Histogram-CDF quantile gate: hand-built score distribution.
    Whole buckets drop while the running count stays within the integer
    budget, ties at the cut survive (realized drop <= requested), and
    frac=0 / frac=1 behave."""
    from priority_data_pipeline_azure_sql_db_spark.operators.sample import (
        quantile_threshold_filter,
    )

    # 10 rows: scores .05 x2, .15 x3, .55 x5 -> buckets 500, 1500, 5500
    rows = [(i, 0.05) for i in range(2)] + \
           [(i + 2, 0.15) for i in range(3)] + \
           [(i + 5, 0.55) for i in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "score"])

    # drop 20% -> budget floor(10*1/5)=2: exactly the .05 bucket
    kept = quantile_threshold_filter(df, "score", 1, 5).collect()
    assert sorted(r["doc_id"] for r in kept) == list(range(2, 10))

    # drop 40% -> budget 4, but buckets are atomic: .05 (cum 2) drops,
    # .15 (cum 5 > 4) survives whole -> realized drop 2/10 <= 4/10
    kept = quantile_threshold_filter(df, "score", 2, 5).collect()
    assert sorted(r["doc_id"] for r in kept) == list(range(2, 10))

    # drop 50% -> budget 5: .05 and .15 both drop
    kept = quantile_threshold_filter(df, "score", 1, 2).collect()
    assert sorted(r["doc_id"] for r in kept) == list(range(5, 10))

    # frac=0 keeps everything; frac=1 drops everything
    assert len(quantile_threshold_filter(df, "score", 0, 1).collect()) == 10
    assert len(quantile_threshold_filter(df, "score", 1, 1).collect()) == 0

    import pytest as _pytest
    with _pytest.raises(ValueError, match="drop_frac"):
        quantile_threshold_filter(df, "score", 3, 2)


def test_quantile_threshold_filter_clamps_out_of_range(spark):
    """Scores outside [lo, hi] clamp into the edge buckets instead of
    corrupting the histogram."""
    from priority_data_pipeline_azure_sql_db_spark.operators.sample import (
        quantile_threshold_filter,
    )

    df = spark.createDataFrame(
        [(1, -5.0), (2, 0.5), (3, 99.0)], ["doc_id", "score"]
    )
    out = {r["doc_id"]: r["_qbucket"]
           for r in quantile_threshold_filter(df, "score", 0, 1).collect()}
    assert out == {1: 0, 2: 5000, 3: 9999}


def test_curriculum_rank_matches_global_sort(spark):
    """The histogram-offset construction is bit-identical to the naive
    global row_number, including out-of-range clamps, within-bucket
    ties (id tie-break), and duplicate scores across buckets."""
    from pyspark.sql import Window

    from priority_data_pipeline_azure_sql_db_spark.operators.sample import (
        curriculum_rank,
    )

    rows = [
        (1, 0.73), (2, 0.12), (3, 0.12), (4, -3.0), (5, 42.0),
        (6, 0.120001), (7, 0.9999), (8, 0.0), (9, 1.0), (10, 0.73),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "score"])
    got = {
        r["doc_id"]: r["curriculum_rank"]
        for r in curriculum_rank(df, "score").collect()
    }
    naive = {
        r["doc_id"]: r["rk"]
        for r in df.withColumn(
            "rk",
            F.row_number().over(Window.orderBy("score", "doc_id")),
        ).collect()
    }
    assert got == naive
    assert sorted(got.values()) == list(range(1, 11))


def test_curriculum_rank_plan_has_no_global_window(spark):
    """The corpus-sized window must be keyed by bucket; only the
    histogram-sized offset window may be unpartitioned."""
    from priority_data_pipeline_azure_sql_db_spark.operators.sample import (
        curriculum_rank,
    )

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 97 / 100.0).alias("score"),
    )
    plan = curriculum_rank(df, "score")._jdf.queryExecution().executedPlan().toString()
    import re

    # every row_number window spec over the full relation must carry the
    # bucket key; an unkeyed row_number would read "windowspecdefinition(
    # score..., doc_id..." with no partition columns before the ORDER BY
    for m in re.finditer(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan):
        assert "_qbucket" in m.group(1), plan


def test_snapshot_diff_change_types(spark):
    """Full-outer CDC diff: every change class on hand-built snapshots,
    NULL-safe value comparison, and default compare-column derivation."""
    from priority_data_pipeline_azure_sql_db_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, "d", 40.0)],
        ["pk", "val", "price"],
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),      # unchanged
         (2, "b", None),      # unchanged (NULL <=> NULL)
         (3, "c", 31.0),      # updated
         (5, "e", 50.0)],     # inserted; pk 4 deleted
        ["pk", "val", "price"],
    )
    got = {
        r["pk"]: r["change_type"]
        for r in snapshot_diff(old, new, pk=["pk"]).collect()
    }
    assert got == {1: "unchanged", 2: "unchanged", 3: "updated",
                   4: "deleted", 5: "inserted"}

    # NULL -> value is an update, not unchanged
    got2 = {
        r["pk"]: r["change_type"]
        for r in snapshot_diff(
            old, new.withColumn(
                "price",
                F.when(F.col("pk") == 2, 2.0).otherwise(F.col("price")),
            ),
            pk=["pk"],
        ).collect()
    }
    assert got2[2] == "updated"

    # round-10 ADVICE fix: compare_cols=[] means "compare nothing" —
    # every PK present on both sides is unchanged even when values
    # differ. The old `or`-fallback silently re-derived the default
    # set, which for cdc_audit_delta re-included the audit columns and
    # misclassified byte-identical re-fetches as updated.
    got3 = {
        r["pk"]: r["change_type"]
        for r in snapshot_diff(old, new, pk=["pk"], compare_cols=[]).collect()
    }
    assert got3 == {1: "unchanged", 2: "unchanged", 3: "unchanged",
                    4: "deleted", 5: "inserted"}


def test_cdc_audit_delta_audit_only_columns(spark):
    """cdc_audit_delta on a table whose only non-PK shared columns are
    the excluded audit columns: a re-fetch with a fresh extraction id
    is 'unchanged', not 'updated' (round-9 ADVICE — the empty compare
    list must not fall back to comparing the audit columns)."""
    from priority_data_pipeline_azure_sql_db_spark.pipeline import cdc_audit_delta

    target = spark.createDataFrame(
        [(1, "run-A", "2026-01-01"), (2, "run-A", "2026-01-01")],
        ["pk", "extractionid", "extractiontimestamputc"],
    )
    delta = spark.createDataFrame(
        [(1, "run-B", "2026-02-02"),   # same PK, fresh audit identity
         (3, "run-B", "2026-02-02")],  # new PK
        ["pk", "extractionid", "extractiontimestamputc"],
    )
    got = {
        r["pk"]: r["change_type"]
        for r in cdc_audit_delta(target, delta, pk=["pk"]).collect()
    }
    assert got == {1: "unchanged", 3: "inserted"}


def test_combine_rollups_equals_full_recompute(spark):
    """Incremental aggregate maintenance: merging per-slice rollups
    (decimal partials) reproduces the one-pass rollup exactly, for any
    slicing, including a group appearing in only one slice."""
    from priority_data_pipeline_azure_sql_db_spark.operators.merge import combine_rollups

    rows = [
        ("a", 0.1), ("a", 0.2), ("b", 10.5), ("a", 0.3),
        ("c", -1.25), ("b", 0.000001),
    ]
    df = spark.createDataFrame(rows, ["k", "v"])

    def rollup(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("v").cast("decimal(18,6)")).alias("s"),
        )

    full = {
        r["k"]: (r["n"], r["s"])
        for r in rollup(df).collect()
    }
    parts = [
        rollup(df.limit(2)),
        rollup(df.subtract(df.limit(2)).filter(F.col("k") != "c")),
        rollup(df.filter(F.col("k") == "c")),
    ]
    merged = {
        r["k"]: (r["n"], r["s"])
        for r in combine_rollups(parts, ["k"], ["n", "s"]).collect()
    }
    assert merged == full


def test_scd2_history_runs_and_intervals(spark):
    """SCD2 build on a hand-built change log: consecutive identical
    states collapse (NULL-safely), intervals chain half-open, the last
    run is current, and same-instant changes collapse to the LAST one
    (by tiebreak) — Kimball: at most one state per (entity,
    valid_from), never a zero-length [t, t) version row (round-11
    agreement fix: the old build emitted those)."""
    from datetime import datetime as DT

    from priority_data_pipeline_azure_sql_db_spark.operators.merge import scd2_history

    t = lambda s: DT(2026, 1, s)
    rows = [
        (1, "gold",   t(1), 10),
        (1, "gold",   t(2), 11),   # same state -> collapses into run 1
        (1, "silver", t(3), 12),
        (1, None,     t(4), 13),   # NULL state is a real run
        (1, None,     t(5), 14),   # NULL == NULL -> collapses
        (1, "gold",   t(6), 15),
        (2, "bronze", t(1), 16),
        # same-instant tie for user 3: the LAST change (event_id 18) is
        # the instant's one state — 'b' never becomes a version row
        (3, "b", t(1), 17), (3, "c", t(1), 18),
        # user 4: A, then same-instant B->A churn at t2 — the entity is
        # observably A throughout, so ONE run since t1 (the old build
        # said 'A since t2' plus zero-length phantoms)
        (4, "A", t(1), 20), (4, "B", t(2), 21), (4, "A", t(2), 22),
    ]
    df = spark.createDataFrame(rows, ["user_id", "tier", "ts", "event_id"])
    out = scd2_history(
        df, pk=["user_id"], attr_cols=["tier"], ts_col="ts",
        tiebreak_cols=["event_id"],
    ).collect()
    runs = sorted(
        ((r["user_id"], r["tier"], r["valid_from"], r["valid_to"],
          r["is_current"]) for r in out),
        key=lambda x: (x[0], x[2], str(x[1])),
    )
    assert runs == [
        (1, "gold",   t(1), t(3), False),
        (1, "silver", t(3), t(4), False),
        (1, None,     t(4), t(6), False),
        (1, "gold",   t(6), None, True),
        (2, "bronze", t(1), None, True),
        (3, "c", t(1), None, True),
        (4, "A", t(1), None, True),
    ]
    # (pk, valid_from) is unique — the published dimension key
    assert len({(r[0], r[2]) for r in runs}) == len(runs)


def test_scd2_null_timestamp_rows_kept(spark):
    """Round-12 review fix: the last-of-instant collapse used a
    non-null-safe `nxt_ts != ts`, which evaluates to NULL (row silently
    FILTERED) when ts is NULL and the next row's ts is not — dropping
    NULL-timestamp changes the pre-collapse build kept. eqNullSafe
    keeps them, and two NULL-ts rows still collapse to the last."""
    from datetime import datetime as DT

    from priority_data_pipeline_azure_sql_db_spark.operators.merge import scd2_history

    t = lambda s: DT(2026, 1, s)
    rows = [
        # NULL ts sorts first: its run must survive, end-dated at t1
        (1, "pre",  None, 10),
        (1, "gold", t(1), 11),
        # two NULL-ts changes = one instant: last (by tiebreak) wins
        (2, "a", None, 20), (2, "b", None, 21),
    ]
    df = spark.createDataFrame(rows, ["user_id", "tier", "ts", "event_id"])
    out = scd2_history(
        df, pk=["user_id"], attr_cols=["tier"], ts_col="ts",
        tiebreak_cols=["event_id"],
    ).collect()
    runs = sorted(
        ((r["user_id"], r["tier"], r["valid_from"], r["valid_to"],
          r["is_current"]) for r in out),
        key=lambda x: (x[0], str(x[2])),
    )
    # str(None) sorts after ISO dates, so gold's run lists first
    assert runs == [
        (1, "gold", t(1), None, True),
        (1, "pre",  None, t(1), False),
        (2, "b",    None, None, True),
    ]


def test_scd2_history_tombstones(spark):
    """Round-12 tombstone semantics (op_col): a delete closes the open
    run at its ts and emits no run; a later change RE-CREATES the
    entity (new run even with identical attributes); double deletes
    collapse; a leading delete emits nothing; a delete tied with an
    upsert at the same instant resolves by tiebreak."""
    from datetime import datetime as DT

    from priority_data_pipeline_azure_sql_db_spark.operators.merge import scd2_history

    t = lambda s: DT(2026, 1, s)
    rows = [
        # user 1: create, delete, re-create with the SAME attrs
        (1, "gold", t(1), 10, False),
        (1, None,   t(3), 11, True),
        (1, "gold", t(5), 12, False),
        # user 2: delete then delete again (collapse), still closed
        (2, "a", t(1), 20, False),
        (2, None, t(2), 21, True), (2, None, t(4), 22, True),
        # user 3: leading tombstone only — no history at all
        (3, None, t(1), 30, True),
        # user 4: upsert and delete at the SAME instant — the delete
        # (higher event_id) wins the instant, entity closed at t2
        (4, "x", t(1), 40, False),
        (4, "y", t(2), 41, False), (4, None, t(2), 42, True),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, tier string, ts timestamp, "
              "event_id bigint, deleted boolean")
    out = scd2_history(
        df, pk=["user_id"], attr_cols=["tier"], ts_col="ts",
        tiebreak_cols=["event_id"], op_col="deleted",
    ).collect()
    runs = sorted(
        ((r["user_id"], r["tier"], r["valid_from"], r["valid_to"],
          r["is_current"]) for r in out),
        key=lambda x: (x[0], str(x[2])),
    )
    assert runs == [
        (1, "gold", t(1), t(3), False),   # closed by the tombstone
        (1, "gold", t(5), None, True),    # re-created, same attrs
        (2, "a",    t(1), t(2), False),   # one close, double-delete noop
        (4, "x",    t(1), t(2), False),   # delete won the t2 instant
    ]
    # op_col=None path is unchanged by the tombstone code
    upserts_only = df.filter(~F.col("deleted")).drop("deleted")
    a = scd2_history(upserts_only, ["user_id"], ["tier"], "ts",
                     ["event_id"]).collect()
    b = scd2_history(upserts_only.withColumn("deleted", F.lit(False)),
                     ["user_id"], ["tier"], "ts", ["event_id"],
                     op_col="deleted").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_scd2_close_deleted(spark):
    """Kimball CDC delete handling (round 11): entities absent from the
    latest full snapshot get their current row end-dated at as_of; the
    operator is idempotent and leaves live entities and historical rows
    untouched."""
    from datetime import datetime as DT

    from priority_data_pipeline_azure_sql_db_spark.operators.merge import (
        scd2_close_deleted,
        scd2_history,
    )

    t = lambda s: DT(2026, 1, s)
    log = [
        (1, "gold", t(1), 1), (1, "silver", t(3), 2),
        (2, "bronze", t(1), 3),
    ]
    hist = scd2_history(
        spark.createDataFrame(log, ["user_id", "tier", "ts", "event_id"]),
        pk=["user_id"], attr_cols=["tier"], ts_col="ts",
        tiebreak_cols=["event_id"],
    )
    # latest full snapshot: user 2 is gone
    present = spark.createDataFrame([(1,)], ["user_id"])
    closed = scd2_close_deleted(hist, present, ["user_id"], t(9))
    rows = {(r.user_id, r.tier): (r.valid_to, r.is_current)
            for r in closed.collect()}
    assert rows[(2, "bronze")] == (t(9), False)   # end-dated
    assert rows[(1, "silver")] == (None, True)    # live entity untouched
    assert rows[(1, "gold")] == (t(3), False)     # history untouched
    # idempotent: a second close changes nothing
    again = scd2_close_deleted(closed, present, ["user_id"], t(10))
    assert {(r.user_id, r.tier): (r.valid_to, r.is_current)
            for r in again.collect()} == rows


def test_cap_per_group_matches_naive_window(spark):
    """Per-group cap equals the naive per-group row_number over score
    DESC with id tie-break, across uneven group sizes and score ties."""
    from pyspark.sql import Window

    from priority_data_pipeline_azure_sql_db_spark.operators.sample import cap_per_group

    rows = [
        ("web", 1, 0.9), ("web", 2, 0.9), ("web", 3, 0.1),
        ("web", 4, 0.5), ("web", 5, 0.7),
        ("books", 6, 0.3), ("books", 7, 0.8),
        ("tiny", 8, 0.2),
    ]
    df = spark.createDataFrame(rows, ["src", "doc_id", "score"])
    got = {
        (r["src"], r["doc_id"]): r["rank_in_group"]
        for r in cap_per_group(df, ["src"], "score", cap=2).collect()
    }
    naive = {
        (r["src"], r["doc_id"]): r["rk"]
        for r in df.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("src")
                .orderBy(F.lit(1.0) - F.col("score"), "doc_id")
            ),
        ).filter(F.col("rk") <= 2).collect()
    }
    assert got == naive
    # "tiny" keeps its single row; "web" keeps the tied 0.9s by id order
    assert got[("tiny", 8)] == 1
    assert got[("web", 1)] == 1 and got[("web", 2)] == 2

    import pytest as _pytest
    with _pytest.raises(ValueError, match="cap"):
        cap_per_group(df, ["src"], "score", cap=0)


def test_gram_novelty_known_docs(spark):
    """Hand-built corpus: a doc fully plagiarized from another scores
    1.0, a disjoint doc scores 0.0, partial overlap counts only the
    shared distinct grams, and short docs (< k tokens) drop out."""
    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import gram_novelty

    docs = [
        (1, "a b c d e f"),      # grams: abc bcd cde def
        (2, "a b c d e f"),      # identical -> all 4 shared
        (3, "x y z w v"),        # grams: xyz yzw zwv -> none shared
        (4, "a b c q r s"),      # abc shared with 1/2; bcq cqr qrs not
        (5, "t u"),              # too short: no grams
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["n_grams"], r["n_shared"], r["dup_gram_frac"])
        for r in gram_novelty(df, k=3).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert out[1] == (4, 4, 1.0) and out[2] == (4, 4, 1.0)
    assert out[3] == (3, 0, 0.0)
    assert out[4] == (4, 1, 0.25)


def test_remove_duplicated_spans_known_docs(spark):
    """Span deletion on hand-built docs: the duplicated run disappears
    from the higher-id doc only, overlapping spans union, untouched
    docs come back whitespace-normalized with zero removals, and
    original case survives (positions are case-insensitive matches)."""
    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import (
        duplicated_spans,
        remove_duplicated_spans,
    )

    shared = "one two three four five six"
    docs = [
        (1, f"Alpha beta {shared} gamma"),
        (2, f"delta {shared} epsilon zeta"),
        (3, "totally  unrelated   words here"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    spans = duplicated_spans(df, k=3, min_run=1)
    out = {
        r["doc_id"]: (r["text"], r["n_tokens_removed"])
        for r in remove_duplicated_spans(df, spans).collect()
    }
    # doc 1 (lower id) keeps the run, original case intact
    assert out[1] == (f"Alpha beta {shared} gamma", 0)
    # doc 2 loses exactly the 6 shared tokens
    assert out[2] == ("delta epsilon zeta", 6)
    # doc 3: untouched but whitespace-normalized
    assert out[3] == ("totally unrelated words here", 0)


def test_fuzzy_match_pairs_blocking_and_distance(spark):
    """Blocking confines comparisons (cross-block near-matches never
    pair), the refine keeps only pairs within the edit budget, and
    distances are exact."""
    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import (
        fuzzy_match_pairs,
    )

    rows = [
        (1, "acme corp", "US"),
        (2, "acme c0rp", "US"),    # 1 substitution
        (3, "acme corporation", "US"),  # 7 inserts -> over budget
        (4, "acme corp", "DE"),    # exact twin, wrong block
        (5, "acme inc", "US"),     # distance 4 from "acme corp"
    ]
    df = spark.createDataFrame(rows, ["rid", "name", "country"])
    got = {
        (r["id_a"], r["id_b"]): r["edit_distance"]
        for r in fuzzy_match_pairs(
            df, key_col="name", id_col="rid",
            block_cols=["country"], max_edit=2,
        ).collect()
    }
    assert got == {(1, 2): 1}

    wider = {
        (r["id_a"], r["id_b"]): r["edit_distance"]
        for r in fuzzy_match_pairs(
            df, key_col="name", id_col="rid",
            block_cols=["country"], max_edit=4,
        ).collect()
    }
    assert wider == {(1, 2): 1, (1, 5): 4, (2, 5): 4}


def test_scd2_apply_delta_extends_existing_entities(spark, sf_dir):
    """Incremental SCD2 where the delta adds NEW changes for EXISTING
    entities (a time split, every user on both sides): folding the
    delta into the standing history equals the full-log rebuild exactly
    — including reopened is_current rows and out-of-order arrivals."""
    from priority_data_pipeline_azure_sql_db_spark.operators.merge import (
        scd2_apply_delta,
        scd2_history,
    )
    from priority_data_pipeline_azure_sql_db_spark.sources.parquet import load_table

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    cut = "2024-01-20 00:00:00"
    base = e.filter(F.col("ts") < cut)
    delta = e.filter(F.col("ts") >= cut)
    standing = scd2_history(
        base, pk=["user_id"], attr_cols=["event_type"], ts_col="ts",
        tiebreak_cols=["event_id"],
    )
    got = scd2_apply_delta(
        standing, base, delta,
        pk=["user_id"], attr_cols=["event_type"], ts_col="ts",
        tiebreak_cols=["event_id"],
    )
    want = scd2_history(
        e, pk=["user_id"], attr_cols=["event_type"], ts_col="ts",
        tiebreak_cols=["event_id"],
    )
    canon = lambda df: sorted(  # noqa: E731
        (r["user_id"], r["event_type"], str(r["valid_from"]),
         str(r["valid_to"]), r["is_current"])
        for r in df.select(
            "user_id", "event_type", "valid_from", "valid_to", "is_current"
        ).collect()
    )
    assert canon(got) == canon(want)

    # an out-of-order delta (older than the standing history's tail)
    # still lands correctly because touched entities rebuild from log
    weird = scd2_apply_delta(
        scd2_history(delta, ["user_id"], ["event_type"], "ts", ["event_id"]),
        delta, base,
        pk=["user_id"], attr_cols=["event_type"], ts_col="ts",
        tiebreak_cols=["event_id"],
    )
    assert canon(weird) == canon(want)


def test_dedup_within_tie_deterministic(spark):
    """Ties on order_col (same PK, same version, different payload — the
    re-fetched-retry case) resolve by content hash, not physical row
    order: the kept row is identical across input orderings and
    partitionings."""
    rows = "(1, 5, 'payload-a'), (1, 5, 'payload-b'), (1, 5, 'payload-c')"
    fwd = spark.sql(f"SELECT * FROM VALUES {rows} AS t(pk, ver, v)")
    rev = spark.sql(
        f"SELECT * FROM (SELECT * FROM VALUES {rows} AS t(pk, ver, v)) "
        "ORDER BY v DESC"
    ).repartition(7)
    a = dedup_within(fwd, ["pk"], "ver").collect()
    b = dedup_within(rev, ["pk"], "ver").collect()
    assert len(a) == len(b) == 1
    assert a[0].v == b[0].v


def test_dsir_log_weights_shifts_toward_target(spark):
    """DSIR importance weights (round 14): (a) a pure-target-bigram doc
    scores positive (selected) while same-length pure-raw docs score
    negative, and a half-target doc beats a length-matched pure-raw
    doc (the weight is the document's log importance under the product
    model — a SUM over occurrences, so comparisons hold at matched
    length); (b) deterministic across runs; (c) 0/1-token docs surface
    as (0, NULL, false), never vanish; (d) n_feats counts every bigram
    occurrence."""
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators.sample import (
        dsir_log_weights,
    )

    tgt = "alpha beta gamma delta " * 30          # 120 tokens
    raws = [f"r{i}a r{i}b r{i}c r{i}d " * 30 for i in range(10)]
    rows = [
        (1, tgt, "xx"),                 # pure target-like (NOT in slice)
        (2, raws[0] * 2, "xx"),         # pure raw, length-matched to 3
        (3, tgt + raws[1], "xx"),       # half target, half raw
        (4, "solo", "xx"),              # 1 token -> no bigrams
    ]
    rows += [(10 + i, r, "xx") for i, r in enumerate(raws)]
    rows += [(30 + i, tgt, "en") for i in range(3)]   # the target slice
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    out = {r.doc_id: r for r in dsir_log_weights(
        df, df.filter(F.col("lang") == "en"), n_buckets=512
    ).collect()}
    assert out[1].log_weight > 0 and out[1].selected
    assert out[2].log_weight < 0 and not out[2].selected
    assert out[3].log_weight > out[2].log_weight  # length-matched pair
    assert (out[4].n_feats, out[4].log_weight, out[4].selected) == (0, None, False)
    assert out[1].n_feats == len(tgt.split()) - 1
    again = {r.doc_id: r.log_weight for r in dsir_log_weights(
        df, df.filter(F.col("lang") == "en"), n_buckets=512
    ).collect()}
    assert again == {k: v.log_weight for k, v in out.items()}


def test_dsir_log_weights_empty_target_fails_loud(spark):
    """Round-15 ADVICE fix: an accidentally-empty target corpus (or one
    whose docs are all 0/1-token) must fail the job with the explicit
    dsir_log_weights message, not silently surface every document as
    log_weight NULL / selected=false. The guard is a plan-embedded
    assert_true on the target total — lazy (no extra target pass), but
    loud at first execution."""
    import pytest
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators.sample import (
        dsir_log_weights,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma", "xx"), (2, "solo", "en")],
        "doc_id bigint, text string, lang string",
    )
    # lang='zz' slice is empty; lang='en' slice has only a 1-token doc —
    # both yield zero target bigram occurrences and must raise.
    for target in (df.filter(F.col("lang") == "zz"),
                   df.filter(F.col("lang") == "en")):
        with pytest.raises(Exception, match="zero bigram occurrences"):
            dsir_log_weights(df, target, n_buckets=64).collect()
    # the round-19 fused self-target path keeps the loud-error contract
    # (there a degenerate target makes pt = 0, not NULL — the guard
    # checks both): same two degenerate slices, now as flag predicates.
    for flag in (F.col("lang") == "zz", F.col("lang") == "en"):
        with pytest.raises(Exception, match="zero bigram occurrences"):
            dsir_log_weights(
                df, None, n_buckets=64, target_flag=flag
            ).collect()


def test_dsir_self_target_fusion_exact(spark):
    """Round-19 fusion equivalence: dsir_log_weights with
    ``target_flag`` (the predicate riding the one corpus pass) returns
    BIT-IDENTICAL rows to the two-pass form with
    ``target_df = df.filter(<same predicate>)`` — including NULL-flag
    docs (NULL ⇒ not target, df.filter semantics), 0/1-token docs, and
    flagged docs whose bigrams exist nowhere else. Also pins the
    exactly-one-of-target_df/target_flag argument contract."""
    import pytest
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators.sample import (
        dsir_log_weights,
    )

    rows = [
        (1, "alpha beta gamma delta " * 20, "en"),
        (2, "alpha beta gamma delta " * 20, "xx"),
        (3, "raw one two three four five " * 15, "xx"),
        (4, "unique target only bigrams here " * 10, "en"),
        (5, "solo", "en"),              # flagged but 1 token
        (6, "mixed alpha beta raw one two " * 12, None),  # NULL lang
        (7, "", "xx"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string")
    flag = F.col("lang") == "en"
    two_pass = sorted(
        dsir_log_weights(df, df.filter(flag), n_buckets=128).collect())
    fused = sorted(
        dsir_log_weights(df, None, n_buckets=128,
                         target_flag=flag).collect())
    assert fused == two_pass
    with pytest.raises(ValueError, match="exactly one"):
        dsir_log_weights(df, df.filter(flag), n_buckets=128,
                         target_flag=flag)
    with pytest.raises(ValueError, match="exactly one"):
        dsir_log_weights(df, None, n_buckets=128)
