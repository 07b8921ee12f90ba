"""LLM-pipeline operators (SURVEY.md north-star extensions): dedup,
similarity, text analysis, as-of join, multimodal plumbing — invariant
checks on small synthetic frames (the driver oracle covers the
``documents``/``embeddings`` fixtures at sf0.01)."""

import pyspark.sql.functions as F
import pytest

from iceberg_ruby_spark import operators as ops


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumped over the lazy dog"),  # near dup
        (4, "completely different text about spark engines"),
        (5, "THE QUICK BROWN  FOX jumps over the lazy dog"),  # case/ws dup
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_deterministic_survivor(docs):
    out = ops.exact_dedup(docs.select("text", "doc_id"), cols=["text"], tie_breaker="doc_id")
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 3, 4, 5]  # doc 2 dropped, lowest id survives


def test_exact_dedup_by_hash_normalized(docs):
    out = ops.exact_dedup_by_hash(docs, "text", tie_breaker="doc_id", normalize=True)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 3, 4]  # 2 and 5 fold into 1


def test_minhash_lsh_finds_near_dups(docs):
    pairs = ops.minhash_lsh_pairs(docs, "text", id_col="doc_id", threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # exact dup always survives
    assert (1, 3) in got or (2, 3) in got  # near dup caught
    assert not any(4 in p for p in got)  # unrelated text not paired


def test_simhash_64bit_and_stable(docs, spark):
    out = ops.simhash(docs, "text", id_col="doc_id")
    rows = {r["doc_id"]: r["simhash"] for r in out.collect()}
    assert rows[1] == rows[2]  # identical text → identical simhash
    again = {r["doc_id"]: r["simhash"] for r in ops.simhash(docs, "text", id_col="doc_id").collect()}
    assert rows == again  # deterministic


def test_ngram_jaccard_pairs(docs):
    blocked = docs.withColumn("blk", F.lit(1))
    pairs = ops.ngram_jaccard_pairs(blocked, "text", id_col="doc_id", block_col="blk", threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got.get((1, 2)) == 1.0
    assert all(a < b for a, b in got)  # canonical pair ordering


def test_text_scalars(docs):
    out = docs.select(
        "doc_id",
        ops.token_count(F.col("text")).alias("toks"),
        ops.language_id(F.col("text")).alias("lang"),
        ops.quality_score(F.col("text")).alias("q"),
        ops.fingerprint(F.col("text")).alias("fp"),
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["toks"] == 9
    assert by_id[1]["lang"] == "en"
    assert 0.0 <= by_id[1]["q"] <= 1.0
    assert by_id[1]["fp"] == by_id[2]["fp"]  # same text, same fingerprint


def test_cosine_topk_exact(spark):
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 0.1]), (4, [-1.0, 0.0])],
        ["vec_id", "embedding"],
    )
    queries = corpus.filter(F.col("vec_id") == 1)
    out = ops.cosine_topk(corpus, queries, k=2).collect()
    ranked = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [3, 2]  # nearest first, self excluded


def test_lsh_ann_is_subset_of_exact(spark):
    import random

    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = corpus.filter(F.col("vec_id") < 3)
    ann = ops.lsh_ann_topk(corpus, queries, k=5, n_planes=4)
    got = ann.collect()
    assert len(got) > 0
    # every ANN hit must be a genuine corpus neighbor with a valid cosine
    assert all(-1.001 <= r["cosine"] <= 1.001 for r in got)
    assert all(r["vec_id"] != r["query_id"] for r in got)


def test_vector_norms(spark):
    df = spark.createDataFrame([(1, [3.0, 4.0])], ["vec_id", "embedding"])
    out = ops.vector_norms(df).collect()[0]
    assert abs(out["l2_norm"] - 5.0) < 1e-9


def test_asof_join_basic(spark):
    trades = spark.createDataFrame(
        [("A", 3, 100.0), ("A", 7, 101.0), ("B", 5, 50.0)],
        ["sym", "ts", "price"],
    )
    quotes = spark.createDataFrame(
        [("A", 1, 99.0), ("A", 5, 100.5), ("B", 6, 49.0)],
        ["sym", "ts", "bid"],
    )
    out = ops.asof_join(trades, quotes, on="ts", by=["sym"])
    got = {(r["sym"], r["ts"]): r["bid"] for r in out.collect()}
    assert got[("A", 3)] == 99.0
    assert got[("A", 7)] == 100.5
    assert got[("B", 5)] is None  # no quote at or before ts=5


def test_asof_join_strict_excludes_equal(spark):
    left = spark.createDataFrame([(1, 5)], ["id", "ts"])
    right = spark.createDataFrame([(5, "at5"), (4, "at4")], ["ts", "v"])
    non_strict = ops.asof_join(left, right, on="ts").collect()[0]
    strict = ops.asof_join(left, right, on="ts", strict=True).collect()[0]
    assert non_strict["v"] == "at5"
    assert strict["v"] == "at4"


def test_asof_join_forward_and_nearest(spark):
    trades = spark.createDataFrame(
        [("A", 3, 100.0), ("A", 7, 101.0), ("B", 5, 50.0)],
        ["sym", "ts", "price"],
    )
    quotes = spark.createDataFrame(
        [("A", 1, 99.0), ("A", 5, 100.5), ("B", 6, 49.0)],
        ["sym", "ts", "bid"],
    )
    fwd = {
        (r["sym"], r["ts"]): r["bid"]
        for r in ops.asof_join(
            trades, quotes, on="ts", by=["sym"], direction="forward"
        ).collect()
    }
    assert fwd[("A", 3)] == 100.5  # next quote at ts=5
    assert fwd[("A", 7)] is None  # nothing after ts=7
    assert fwd[("B", 5)] == 49.0
    near = {
        (r["sym"], r["ts"]): r["bid"]
        for r in ops.asof_join(
            trades, quotes, on="ts", by=["sym"], direction="nearest"
        ).collect()
    }
    # distances: back=|3-1|=2, fwd=|5-3|=2 -> tie -> backward
    assert near[("A", 3)] == 99.0
    assert near[("A", 7)] == 100.5
    assert near[("B", 5)] == 49.0


def test_asof_join_nearest_tie_is_backward(spark):
    left = spark.createDataFrame([(1, 5)], ["id", "ts"])
    right = spark.createDataFrame([(3, "back"), (7, "fwd")], ["ts", "v"])
    row = ops.asof_join(left, right, on="ts", direction="nearest").collect()[0]
    assert row["v"] == "back"  # equal distance 2 -> backward wins
    closer_fwd = spark.createDataFrame([(2, "back"), (6, "fwd")], ["ts", "v"])
    row = ops.asof_join(left, closer_fwd, on="ts", direction="nearest").collect()[0]
    assert row["v"] == "fwd"


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame([(1, 10), (2, 100)], ["id", "ts"])
    right = spark.createDataFrame([(7, "a"), (50, "b")], ["ts", "v"])
    got = {
        r["id"]: r["v"]
        for r in ops.asof_join(left, right, on="ts", tolerance=5).collect()
    }
    assert got == {1: "a", 2: None}  # 10-7=3 <= 5; 100-50=50 > 5
    import pytest as _pytest

    from iceberg_ruby_spark.errors import InvalidDataError

    with _pytest.raises(InvalidDataError, match="direction"):
        ops.asof_join(left, right, on="ts", direction="sideways")
    with _pytest.raises(InvalidDataError, match="tolerance"):
        ops.asof_join(left, right, on="ts", tolerance=-1)


def test_asof_join_date_axis(spark):
    """nearest/tolerance on a DATE axis (dates can't cast straight to
    double; they hop through timestamp like NTZ)."""
    import datetime as _dt

    left = spark.createDataFrame([(1, _dt.date(2020, 1, 10))], ["id", "d"])
    right = spark.createDataFrame(
        [(_dt.date(2020, 1, 8), "back"), (_dt.date(2020, 1, 11), "fwd")],
        ["d", "v"],
    )
    row = ops.asof_join(left, right, on="d", direction="nearest").collect()[0]
    assert row["v"] == "fwd"  # 1 day forward beats 2 back
    day = 86400.0
    got = ops.asof_join(
        left, right, on="d", direction="nearest", tolerance=day
    ).collect()[0]
    assert got["v"] == "fwd"  # nearest match is 1 day away, inside tolerance
    got = ops.asof_join(left, right, on="d", tolerance=day).collect()[0]
    assert got["v"] is None  # backward match is 2 days back > 1-day tolerance


def test_asof_join_attaches_matched_row_wholesale(spark):
    """A NULL field in the MATCHED right row must attach as NULL — never
    back-fill from an older/newer right row (pandas merge_asof / DuckDB
    ASOF attach the row wholesale).  VERDICT r8 finding #2: the old
    per-column ignorenulls fill stitched rows no single right record
    contains."""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("ts", LongType()),
        StructField("bid", DoubleType()),
        StructField("venue", StringType()),
    ])
    # nearest-to-everything row ts=10 has bid=NULL; older ts=2 and newer
    # ts=20 both carry non-NULL bids the buggy fill would leak in
    right = spark.createDataFrame(
        [(2, 99.0, "old"), (10, None, "mid"), (20, 101.0, "new")], schema
    )
    left = spark.createDataFrame([(1, 11), (2, 19)], ["id", "ts"])

    for direction, expect in [
        # id=1 ts=11: backward match = ts=10 row; id=2 ts=19: same
        ("backward", {1: (None, "mid"), 2: (None, "mid")}),
        # forward match = ts=20 row for both
        ("forward", {1: (101.0, "new"), 2: (101.0, "new")}),
        # id=1: back d=1 < fwd d=9 -> ts=10 row; id=2: fwd d=1 < back d=9
        ("nearest", {1: (None, "mid"), 2: (101.0, "new")}),
    ]:
        got = {
            r["id"]: (r["bid"], r["venue"])
            for r in ops.asof_join(
                left, right, on="ts", direction=direction
            ).collect()
        }
        assert got == expect, f"direction={direction}: {got}"

    # strict at an exact-timestamp probe: ts=10 left row must skip the
    # ts=10 right row and take ts=2 wholesale (bid present, venue 'old')
    exact = spark.createDataFrame([(1, 10)], ["id", "ts"])
    row = ops.asof_join(exact, right, on="ts", strict=True).collect()[0]
    assert (row["bid"], row["venue"]) == (99.0, "old")
    row = ops.asof_join(exact, right, on="ts", strict=False).collect()[0]
    assert (row["bid"], row["venue"]) == (None, "mid")

    # tolerance masks the WHOLE row: ts=11 within 2 of ts=10 -> NULL bid
    # attaches (not leaked 99.0); ts=19 not within 2 of anything backward
    got = {
        r["id"]: (r["bid"], r["venue"])
        for r in ops.asof_join(
            left, right, on="ts", tolerance=2
        ).collect()
    }
    assert got == {1: (None, "mid"), 2: (None, None)}


def test_multimodal_plumbing(spark):
    df = spark.createDataFrame(
        [(1, b"\x00\x01\x02\x03" * 10), (2, b"\xff" * 16)], ["media_id", "payload"]
    )
    tagged = ops.attach_media_metadata(df, "payload", fmt="bin")
    row = tagged.filter(F.col("media_id") == 1).collect()[0]
    assert row["meta"]["size_bytes"] == 40
    assert row["meta"]["format"] == "bin"
    feats = ops.extract_features(tagged, decoder="fake")
    frow = feats.filter(F.col("media_id") == 1).collect()[0]
    assert len(frow["features"]) > 0  # deterministic fake decode


def test_multimodal_real_decoder_is_stubbed(spark):
    df = spark.createDataFrame([(1, b"x")], ["media_id", "payload"])
    tagged = ops.attach_media_metadata(df)
    with pytest.raises(Exception):
        # "image" decoder requires codec libs not in this container —
        # must raise loudly, not silently fake
        ops.extract_features(tagged, decoder="image").collect()


def test_ivf_topk_recall_vs_exact(spark):
    import random

    rnd = random.Random(11)
    # clustered corpus so IVF cells are meaningful
    centers = [[rnd.uniform(-1, 1) for _ in range(8)] for _ in range(6)]
    rows = []
    for i in range(300):
        c = centers[i % 6]
        rows.append((i, [x + rnd.gauss(0, 0.15) for x in c]))
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = corpus.filter(F.col("vec_id") < 5)
    exact = ops.cosine_topk(corpus, queries, k=5)
    approx = ops.ivf_topk(corpus, queries, k=5, n_cells=12, n_probe=4)
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.8, recall
    # determinism: same seed, same result
    again = {(r["query_id"], r["vec_id"]) for r in
             ops.ivf_topk(corpus, queries, k=5, n_cells=12, n_probe=4).collect()}
    assert again == approx_set


def test_resize_media_plumbing(spark):
    df = spark.createDataFrame(
        [(1, b"imgdata" * 50), (2, None)], ["media_id", "payload"]
    )
    tagged = ops.attach_media_metadata(df, "payload", fmt="img")
    resized = ops.resize_media(tagged, width=64, height=32)
    rows = {r["media_id"]: r for r in resized.collect()}
    assert rows[1]["meta"]["width"] == 64 and rows[1]["meta"]["height"] == 32
    assert len(rows[1]["payload"]) == (64 * 32) // 64
    assert rows[2]["payload"] is None  # null payload passes through
    # deterministic
    again = {r["media_id"]: r for r in ops.resize_media(tagged, 64, 32).collect()}
    assert bytes(again[1]["payload"]) == bytes(rows[1]["payload"])
    with pytest.raises(Exception):
        ops.resize_media(tagged, 64, 32, resizer="pil").collect()


def test_sample_frames_row_counts_from_duration(spark):
    import pyspark.sql.types as T

    rows = [
        (1, b"vid1", {"format": "vid", "width": None, "height": None,
                      "duration_ms": 3500, "size_bytes": 4}),
        (2, b"vid2", {"format": "vid", "width": None, "height": None,
                      "duration_ms": 100, "size_bytes": 4}),
    ]
    df = spark.createDataFrame(rows, ops.MEDIA_SCHEMA)
    frames = ops.sample_frames(df, every_ms=1000).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r)
    assert len(by_id[1]) == 4  # 0,1000,2000,3000 ms
    assert len(by_id[2]) == 1
    assert sorted(r["frame_index"] for r in by_id[1]) == [0, 1, 2, 3]
    assert all(r["frame"] is not None for r in frames)


def test_quantize_int8_roundtrip_error_bound(spark):
    import random

    rnd = random.Random(5)
    rows = [(i, [rnd.uniform(-2, 2) for _ in range(16)]) for i in range(50)]
    rows.append((99, [0.0] * 16))  # all-zero vector: scale guard
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = ops.quantize_int8(df)
    dq = ops.dequantize_int8(q)
    for r in dq.collect():
        orig, back, scale = r["embedding"], r["embedding_deq"], r["embedding_q8_scale"]
        assert all(abs(a - b) <= scale / 2 + 1e-6 for a, b in zip(orig, back))
        assert all(-127 <= x <= 127 for x in r["embedding_q8"])


def test_simhash_pairs_finds_near_dups(docs):
    # short docs make noisy signatures: a one-word change lands at hamming
    # ~10 here (longer real documents land much closer), unrelated text at
    # ~34 — budget 12 separates them
    pairs = ops.simhash_pairs(docs, "text", id_col="doc_id", max_hamming=12)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got.get((1, 2)) == 0  # identical text
    assert (1, 3) in got  # one-word change stays within the budget
    assert not any(4 in p for p in got)  # unrelated text excluded
    assert all(h <= 12 for h in got.values())


def test_embedding_cosine_pairs_lsh_vs_exact(spark):
    import random

    rnd = random.Random(13)
    base = [[rnd.uniform(-1, 1) for _ in range(16)] for _ in range(30)]
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, v))
        # near-duplicate: tiny perturbation -> cosine ~0.999
        rows.append((2 * i + 1, [x + rnd.gauss(0, 0.01) for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {(r["id_a"], r["id_b"]) for r in
             ops.embedding_cosine_pairs(
                 df, threshold=0.99, n_planes=0, allow_all_pairs=True
             ).collect()}
    assert all((2 * i, 2 * i + 1) in exact for i in range(30))
    lsh = {(r["id_a"], r["id_b"]) for r in
           ops.embedding_cosine_pairs(df, threshold=0.99, n_planes=4).collect()}
    assert lsh <= exact  # no false positives (exact verify after bucketing)
    assert len(lsh) >= 0.7 * len(exact)  # high recall at 4 planes
    # multi-table closes the recall gap: candidates union over 4
    # independent plane sets (1-(1-p^m)^L vs p^m)
    multi = {(r["id_a"], r["id_b"]) for r in
             ops.embedding_cosine_pairs(
                 df, threshold=0.99, n_planes=4, n_tables=4
             ).collect()}
    assert multi <= exact
    assert len(multi) >= len(lsh)
    assert len(multi) >= 0.95 * len(exact)


def test_embedding_cosine_pairs_all_pairs_needs_opt_in(spark):
    from iceberg_ruby_spark.errors import InvalidDataError

    df = spark.createDataFrame([(1, [1.0, 0.0]), (2, [1.0, 0.0])], ["vec_id", "embedding"])
    with pytest.raises(InvalidDataError, match="all_pairs"):
        ops.embedding_cosine_pairs(df, n_planes=0)


def test_chunk_documents(spark):
    import pytest as _pytest

    from iceberg_ruby_spark.errors import InvalidDataError
    from iceberg_ruby_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(100))), (2, "a b c")],
        "doc_id long, text string",
    )
    rows = sorted(
        chunk_documents(df, chunk_size=40, overlap=10).collect(),
        key=lambda r: (r["doc_id"], r["chunk_id"]),
    )
    d1 = [r for r in rows if r["doc_id"] == 1]
    assert [r["chunk_id"] for r in d1] == [0, 1, 2]
    assert all(r["chunk_tokens"] == 40 for r in d1)
    assert d1[1]["chunk_text"].startswith("w30 ")          # step = 30
    assert d1[0]["chunk_text"].split()[-10:] == d1[1]["chunk_text"].split()[:10]  # overlap
    # tail covered exactly; short doc → one short chunk
    assert d1[2]["chunk_text"].split()[-1] == "w99"
    d2 = [r for r in rows if r["doc_id"] == 2]
    assert len(d2) == 1 and d2[0]["chunk_tokens"] == 3
    with _pytest.raises(InvalidDataError):
        chunk_documents(df, chunk_size=10, overlap=10)


def test_stratified_sample_deterministic_and_rate_bounded(spark):
    from iceberg_ruby_spark.operators.text import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    a = {r["doc_id"] for r in stratified_sample(docs, "source", {"src0": 0.25}).collect()}
    b = {r["doc_id"] for r in stratified_sample(docs.repartition(7), "source", {"src0": 0.25}).collect()}
    assert a == b  # survivors independent of partitioning
    src0 = docs.filter("source = 'src0'")
    n0 = src0.count()
    kept0 = len({r["doc_id"] for r in stratified_sample(src0, "source", {"src0": 0.25}).collect()})
    assert 0 < kept0 < n0
    assert abs(kept0 / n0 - 0.25) < 0.15  # uniform draw near the rate
    # a different seed draws a different sample
    c = {r["doc_id"] for r in stratified_sample(docs, "source", {"src0": 0.25}, seed=7).collect()}
    assert a != c


def test_pack_sequences_offsets_and_budget(spark):
    from iceberg_ruby_spark.operators.text import pack_sequences

    df = spark.createDataFrame(
        [(i, "en", " ".join(["w"] * 100)) for i in range(6)],
        ["doc_id", "lang", "text"],
    )
    rows = sorted(
        pack_sequences(df, budget=256, partition_col="lang").collect(),
        key=lambda r: r["doc_id"],
    )
    # 100-token docs: cumulative offsets 0,100,...,500 → packs 0,0,0,1,1,1
    assert [r["pack_offset"] for r in rows] == [0, 100, 200, 300, 400, 500]
    assert [r["pack_id"] for r in rows] == [0, 0, 0, 1, 1, 1]
    assert all(r["n_tokens"] == 100 for r in rows)


def test_scrub_pii_redacts_and_counts(spark):
    from iceberg_ruby_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at a.b+c@ex-ample.org thanks"),
            (2, "call +1 (555) 010-1234 today"),
            (3, "nothing sensitive here"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    assert rows[1]["n_emails"] == 1 and "<EMAIL>" in rows[1]["text"]
    assert "a.b+c@" not in rows[1]["text"]
    assert rows[2]["n_phones"] == 1 and "<PHONE>" in rows[2]["text"]
    assert "555" not in rows[2]["text"]
    assert rows[3]["n_emails"] == 0 and rows[3]["n_phones"] == 0
    assert rows[3]["text"] == "nothing sensitive here"


def test_sessionize_gap_logic(spark):
    import datetime as dt

    from iceberg_ruby_spark.operators.sessions import sessionize

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows_in = [
        (1, 100, t0),
        (2, 100, t0 + dt.timedelta(minutes=10)),   # same session
        (3, 100, t0 + dt.timedelta(minutes=50)),   # 40-min gap → new session
        (4, 200, t0),                               # other user: own session
        (5, 100, t0 + dt.timedelta(minutes=75)),   # 25-min gap → same session
    ]
    df = spark.createDataFrame(rows_in, ["event_id", "user_id", "ts"])
    out = {
        r["event_id"]: (r["is_session_start"], r["session_seq"])
        for r in sessionize(df, gap_minutes=30, tie_col="event_id").collect()
    }
    assert out[1] == (1, 1)
    assert out[2] == (0, 1)
    assert out[3] == (1, 2)
    assert out[5] == (0, 2)
    assert out[4] == (1, 1)


def test_pack_sequences_global_window_warns(spark):
    import warnings

    from iceberg_ruby_spark.operators.text import pack_sequences

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "d e"), (3, "f")], "doc_id int, text string"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        pack_sequences(df, budget=4).collect()
    assert any(
        issubclass(w.category, ResourceWarning) and "GLOBAL window" in str(w.message)
        for w in caught
    )
    # partitioned form stays silent
    df2 = df.withColumn("lang", df.doc_id % 2)
    with warnings.catch_warnings(record=True) as caught2:
        warnings.simplefilter("always")
        pack_sequences(df2, budget=4, partition_col="lang").collect()
    assert not [w for w in caught2 if "GLOBAL window" in str(w.message)]


def test_decontaminate_flags_and_scrubs_overlap(spark):
    from iceberg_ruby_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta DIFFERENT"),   # shares the 4-gram
            (3, "zeta eta theta iota kappa"),
        ],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame(
        [(100, "ALPHA beta gamma delta unrelated tail")], "doc_id int, text string"
    )
    annotated = decontaminate(
        corpus, bench, ngram=4, keep_contaminated=True
    ).collect()
    by_id = {r["doc_id"]: r for r in annotated}
    assert by_id[1]["contaminated"] and by_id[1]["n_contaminated_grams"] == 1
    assert by_id[2]["contaminated"]
    assert not by_id[3]["contaminated"]
    # scrub mode drops contaminated docs and the audit columns
    clean = decontaminate(corpus, bench, ngram=4)
    assert sorted(r["doc_id"] for r in clean.collect()) == [3]
    assert "contaminated" not in clean.columns


def test_repetition_stats_known_fractions(spark):
    from iceberg_ruby_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a a a b"),            # 1grams: 4 total 2 distinct; 2grams: [a a, a a, a b] -> 3 total 2 distinct
            (2, "x y z"),              # no repeats
            (3, "l1\nl1\nl2"),         # duplicate line
        ],
        "doc_id int, text string",
    )
    r = {x["doc_id"]: x for x in repetition_stats(df).collect()}
    assert r[1]["dup_1gram_frac"] == pytest.approx(0.5)
    assert r[1]["dup_2gram_frac"] == pytest.approx(1 / 3)
    assert r[2]["dup_1gram_frac"] == 0.0
    assert r[2]["dup_2gram_frac"] == 0.0
    assert r[3]["dup_line_frac"] == pytest.approx(1 / 3)
    assert r[2]["dup_line_frac"] == 0.0


def test_connected_components_transitive_closure(spark):
    from iceberg_ruby_spark.operators.dedup import connected_components

    # components: {1,2,3,4} via chain, {10,11}, {20,21,22} via star
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22)],
        "id_a long, id_b long",
    )
    got = {r["doc_id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    # a long chain needs several propagation rounds — still converges
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30, 40)], "id_a long, id_b long"
    )
    got2 = {r["doc_id"]: r["cluster_id"] for r in connected_components(chain).collect()}
    assert set(got2.values()) == {30} and len(got2) == 11


def test_connected_components_local_and_distributed_agree(spark, monkeypatch):
    # the driver union-find fast path and the label-propagation loop are
    # the same closure: force each via the size gate and compare
    import random

    from iceberg_ruby_spark.operators.dedup import connected_components

    rng = random.Random(11)
    rows = []
    for c in range(40):
        ids = [c * 1000 + i for i in range(rng.randint(2, 7))]
        rows.extend(zip(ids, ids[1:]))
        rows.append((ids[-1], ids[0]))  # cycle
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_MAX_EDGES", "500000")
    local = sorted(map(tuple, connected_components(pairs).collect()))
    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_MAX_EDGES", "0")
    dist = sorted(map(tuple, connected_components(pairs).collect()))
    assert local == dist and len(local) > 0


def test_local_union_find_gate_memory_bound():
    """r14 (VERDICT r13 #9): evidence-back the 500k-edge driver gate.
    The fast path's memory is one dict entry per distinct NODE; at the
    gate bound (500k edges, worst case ~1M distinct nodes) the closure
    must stay well inside a commodity driver's headroom.  tracemalloc
    ceiling: 256 MB (measured ~85 MB for the dict + ~50 MB result list
    on CPython 3.11).  Also pins correctness on a known component mix
    at volume."""
    import random
    import tracemalloc

    from iceberg_ruby_spark.operators.dedup import _local_union_find

    rng = random.Random(7)
    n_edges = 500_000
    # worst-ish case for node count: mostly fresh 2-node components,
    # plus some long chains for path-compression exercise
    edges = []
    base = 0
    while len(edges) < n_edges - 10_000:
        edges.append((base, base + 1))
        base += 2
    chain_start = base
    for i in range(10_000):
        edges.append((chain_start + i, chain_start + i + 1))
    rng.shuffle(edges)
    tracemalloc.start()
    out = _local_union_find(iter(edges))
    _cur, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert peak < 256 * 1024 * 1024, f"union-find peak {peak/1e6:.0f} MB"
    roots = {n: r for n, r in out}
    # every pair-component's root is its min id; the chain collapses to one
    assert roots[chain_start + 10_000] == chain_start
    assert roots[0] == 0 and roots[1] == 0
    assert roots[2] == 2 and roots[3] == 2
    assert len(roots) == 2 * ((n_edges - 10_000)) + 10_001


def test_mix_corpus_token_budgets(spark):
    from iceberg_ruby_spark.operators.text import mix_corpus, token_count

    df = spark.createDataFrame(
        [(i, "w " * 10, "crawl") for i in range(100)]
        + [(1000 + i, "w " * 10, "books") for i in range(10)],
        "doc_id int, text string, source string",
    )
    # crawl: 100 docs x 10 tokens = 1000 tokens, budget 250 -> rate .25
    # books: no budget -> kept whole
    out = mix_corpus(df, {"crawl": 250}).cache()
    rows = out.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    assert len(by_src["books"]) == 10            # unbudgeted: all kept
    assert all(r["mix_rate"] == 1.0 for r in by_src["books"])
    n_crawl = len(by_src["crawl"])
    assert 10 <= n_crawl <= 45                   # ~25 of 100, md5-binomial
    assert all(r["mix_rate"] == 0.25 for r in by_src["crawl"])
    # deterministic: identical survivors on re-run
    again = {r["doc_id"] for r in mix_corpus(df, {"crawl": 250}).collect()}
    assert again == {r["doc_id"] for r in rows}


def test_shared_span_stats(spark):
    from iceberg_ruby_spark.operators.dedup import shared_span_stats

    df = spark.createDataFrame(
        [
            (1, "the same licence block here plus unique tail one"),
            (2, "the same licence block here plus unique tail two"),
            (3, "completely different words in this document entirely"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in shared_span_stats(df, ngram=4, min_docs=2).collect()}
    # docs 1 and 2 share the 4-grams of their common prefix; doc 3 shares none
    assert out[1]["n_shared_grams"] > 0 and out[2]["n_shared_grams"] > 0
    assert out[1]["n_shared_grams"] == out[2]["n_shared_grams"]
    assert out[3]["n_shared_grams"] == 0 and out[3]["shared_frac"] == 0.0
    assert 0 < out[1]["shared_frac"] < 1


def test_distributed_ntile_matches_spark_ntile(spark):
    """distributed_ntile (range-partitioned, no global WindowExec) must
    reproduce exact ntile semantics: first N%n tiles get ceil(N/n) rows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from iceberg_ruby_spark.plans.relational import distributed_ntile

    for n_rows, n_tiles in [(103, 4), (100, 4), (7, 3), (2, 4), (1, 4)]:
        df = spark.range(n_rows).select(
            (F.col("id") * 37 % 101).alias("k"), F.col("id").alias("u")
        )
        got = {
            (r["k"], r["u"]): r["tile"]
            for r in distributed_ntile(df, n_tiles, ["k", "u"]).collect()
        }
        want = {
            (r["k"], r["u"]): r["tile"]
            for r in df.select(
                "k", "u", F.ntile(n_tiles).over(Window.orderBy("k", "u")).alias("tile")
            ).collect()
        }
        assert got == want, (n_rows, n_tiles)


def test_minhash_incremental_multi_ingest(catalog, spark):
    """The operational loop a 100 TB pipeline runs: docs land in an engine
    table, incremental_scan feeds each NEW batch to
    minhash_incremental_pairs against a PERSISTED signature table, and the
    union of per-ingest pairs equals a full-corpus re-mine."""
    import pyspark.sql.types as T

    from iceberg_ruby_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_lsh_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    mk = lambda i, text: {"doc_id": i, "text": text}
    batches = [
        # ingest 1: 0/1 near-dups of each other, 2 unique
        [mk(0, base), mk(1, base + " ok"), mk(2, "completely unrelated words appear in this one document")],
        # ingest 2: 3 near-dups 0 (cross-ingest), 4 near-dups 5 (within-ingest)
        [mk(3, base + " !!"), mk(4, "shared phrase block alpha beta gamma delta epsilon zeta eta theta"),
         mk(5, "shared phrase block alpha beta gamma delta epsilon zeta eta iota")],
        # ingest 3: 6 near-dups 4 (cross-ingest)
        [mk(6, "shared phrase block alpha beta gamma delta epsilon zeta eta kappa")],
    ]
    kw = dict(num_hashes=64, bands=16, shingle_size=5, threshold=0.5)

    docs = catalog.create_table("incdocs", schema={"doc_id": "long", "text": "string"})
    sig_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )
    sigs = catalog.create_table("incsigs", schema=sig_schema)

    all_pairs = set()
    last_snapshot = None
    for batch_rows in batches:
        docs.append(batch_rows)
        batch = docs.incremental_scan(from_snapshot_id=last_snapshot)
        last_snapshot = docs.current_snapshot_id
        corpus = docs.to_df().join(batch.select("doc_id"), "doc_id", "left_anti")
        stored = sigs.to_df() if sigs.to_df().count() else None
        pairs, batch_sigs = minhash_incremental_pairs(
            corpus, batch, "text", "doc_id", corpus_sigs=stored, **kw
        )
        all_pairs |= {(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs.collect()}
        sigs.append(batch_sigs)  # persist the new state

    full = minhash_lsh_pairs(docs.to_df(), "text", "doc_id", **kw)
    want = {(r["id_a"], r["id_b"], r["jaccard"]) for r in full.collect()}
    assert all_pairs == want and len(want) >= 3
    # every doc's signature is persisted exactly once
    assert sigs.to_df().count() == 7


def test_apply_dedup_keeps_canonical(spark):
    from iceberg_ruby_spark.operators.dedup import apply_dedup

    corpus = spark.createDataFrame(
        [(1, 50), (2, 80), (3, 60), (4, 10), (9, 99)],
        "doc_id long, n_chars long",
    )
    # chain 1-2, 2-3 → one family {1,2,3}; 4 pairs with nothing in corpus scope
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    kept = sorted(
        r["doc_id"] for r in apply_dedup(corpus, pairs, quality_col="n_chars").collect()
    )
    assert kept == [2, 4, 9]  # 2 wins its family (longest); untouched docs survive
    # no quality column → smallest id wins
    kept_min = sorted(r["doc_id"] for r in apply_dedup(corpus, pairs).collect())
    assert kept_min == [1, 4, 9]


def test_apply_dedup_quality_fn_members_only(spark):
    # quality_fn receives EXACTLY the component-member ids and its values
    # rank identically to an equivalent corpus quality column (the
    # members-only quality path semantic_dedup's far_from_centroid uses)
    from pyspark.sql import functions as F

    from iceberg_ruby_spark.operators.dedup import apply_dedup

    corpus = spark.createDataFrame(
        [(1, 50), (2, 80), (3, 60), (4, 10), (9, 99)],
        "doc_id long, n_chars long",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    seen: dict = {}

    def qfn(member_ids):
        seen["ids"] = sorted(r["doc_id"] for r in member_ids.collect())
        return member_ids.join(corpus, "doc_id").select(
            "doc_id", F.col("n_chars").alias("__mq")
        )

    kept = sorted(
        r["doc_id"]
        for r in apply_dedup(
            corpus, pairs, quality_col="__mq", quality_fn=qfn
        ).collect()
    )
    assert kept == [2, 4, 9]  # same ranking as the corpus-column form
    assert seen["ids"] == [1, 2, 3]  # members only — never the corpus


def test_apply_dedup_broadcast_follows_closure_path(spark, monkeypatch):
    """The member-quality frame is broadcast only when the driver
    union-find built the components (its edge gate bounds the member
    set).  A distributed closure gets no hint even though its input
    pairs and quality frame are literal (LocalRelation) frames."""
    from pyspark.sql import functions as F

    from iceberg_ruby_spark.operators.dedup import apply_dedup

    corpus = spark.createDataFrame(
        [(1, 50), (2, 80), (3, 60), (4, 10)], "doc_id long, n_chars long"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")

    def qfn(member_ids):
        return member_ids.join(corpus, "doc_id").select(
            "doc_id", F.col("n_chars").alias("__mq")
        )

    def run():
        out = apply_dedup(corpus, pairs, quality_col="__mq", quality_fn=qfn)
        hinted = "strategy=broadcast" in out._jdf.queryExecution().analyzed().toString()
        return sorted(r["doc_id"] for r in out.collect()), hinted

    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_MAX_EDGES", "0")
    assert run() == ([2, 4], False)
    monkeypatch.setenv("SPARK_GRAFT_CC_LOCAL_MAX_EDGES", "500000")
    assert run() == ([2, 4], True)


def test_leakage_safe_split_never_splits_neardups(spark):
    from iceberg_ruby_spark.operators.dedup import leakage_safe_split

    corpus = spark.createDataFrame(
        [(i,) for i in range(40)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    out = leakage_safe_split(corpus, pairs, valid_frac=0.5, seed=7).collect()
    assert len(out) == 40
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    # every near-dup family lands wholly on one side
    for cid in (0, 10, 20):
        assert len(by_cluster[cid]) == 1
    # singleton cluster ids are the docs' own ids
    assert all(r["cluster_id"] == r["doc_id"] for r in out
               if r["doc_id"] not in (0, 1, 2, 10, 11, 20, 21))
    splits = {r["split"] for r in out}
    assert splits == {"train", "valid"}  # both sides populated at 50%


def test_domain_cap_values_and_plan(spark):
    from pyspark.sql import functions as F

    from iceberg_ruby_spark.operators.text import domain_cap

    df = spark.createDataFrame(
        [(i, "a" if i < 30 else "b", i * 7 % 31) for i in range(40)],
        "doc_id long, source string, n_chars long",
    )
    out = domain_cap(df, "source", "doc_id", quality_col="n_chars", cap=3)
    rows = out.collect()
    assert len(rows) == 6  # 3 per domain
    got_a = sorted(
        (r["n_chars"], r["doc_id"]) for r in rows if r["source"] == "a"
    )
    want_a = sorted(
        sorted([((i * 7 % 31), i) for i in range(30)], key=lambda t: (-t[0], t[1]))[:3]
    )
    assert got_a == want_a
    # the rank filter must push down as WindowGroupLimit (map-side partial
    # top-k per domain) — the property that keeps one giant domain from
    # flooding a single reducer at 100 TB
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_ivf_assign_expr_equals_arrow(spark):
    """The pure-JVM expression assigner (engine='expr') and the
    Arrow-batched numpy assigner produce IDENTICAL cells — same argmin,
    same first-index tie-break (exercised by the duplicated vector,
    which ties on every centroid distance)."""
    from iceberg_ruby_spark.errors import InvalidDataError
    from iceberg_ruby_spark.operators.similarity import (
        _train_centroids,
        ivf_assign,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = _train_centroids(emb, "embedding", 8, seed=7, id_col="vec_id")
    a = {
        (r.vec_id, r.cell)
        for r in ivf_assign(cents, emb, engine="arrow").collect()
    }
    b = {
        (r.vec_id, r.cell)
        for r in ivf_assign(cents, emb, engine="expr").collect()
    }
    assert a == b and len(a) == emb.count()
    import pytest as _pytest

    with _pytest.raises(InvalidDataError, match="expected 'arrow' or 'expr'"):
        ivf_assign(cents, emb, engine="bogus")


def test_ivf_incremental_assign_equals_one_shot(spark):
    """Appending a batch via ivf_assign against fixed centroids must give
    the same index (and the same search results) as assigning everything
    in one shot — the no-retraining incremental-ingest contract."""
    from iceberg_ruby_spark.operators.similarity import (
        ivf_assign,
        ivf_index,
        ivf_search,
    )
    from iceberg_ruby_spark.plans.tables import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    corpus = emb.filter("vec_id % 4 != 0")
    batch = emb.filter("vec_id % 4 = 0")
    centroids, assigned_corpus = ivf_index(corpus, n_cells=16)
    incremental = assigned_corpus.unionByName(ivf_assign(centroids, batch))
    one_shot = ivf_assign(centroids, emb)
    got = {(r["vec_id"], r["cell"]) for r in incremental.collect()}
    want = {(r["vec_id"], r["cell"]) for r in one_shot.collect()}
    assert got == want
    q = emb.filter("vec_id < 3")
    s_inc = {
        tuple(r)
        for r in ivf_search(centroids, incremental, q, k=5, n_probe=16).collect()
    }
    s_one = {
        tuple(r) for r in ivf_search(centroids, one_shot, q, k=5, n_probe=16).collect()
    }
    assert s_inc == s_one and len(s_inc) == 15


def test_quality_classifier_fit_and_score(spark):
    from iceberg_ruby_spark.operators.text import (
        classifier_score,
        fit_quality_classifier,
    )

    good = [(i, "a well formed sentence with useful words and meaning", 1)
            for i in range(20)]
    bad = [(100 + i, "buy buy buy spam spam click click zzzz", 0)
           for i in range(20)]
    df = spark.createDataFrame(good + bad, ["doc_id", "text", "label"])
    w, b = fit_quality_classifier(df, dim=64)
    assert len(w) == 64
    scored = df.select(
        "label", classifier_score(F.col("text"), w, bias=b).alias("s")
    ).collect()
    # NB log-odds must separate the two vocabularies completely
    assert all(r["s"] > 0 for r in scored if r["label"] == 1)
    assert all(r["s"] < 0 for r in scored if r["label"] == 0)


def test_classifier_score_integer_weights_exact(spark):
    from iceberg_ruby_spark.operators.text import classifier_score

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, ""), (3, None)], ["doc_id", "text"]
    )
    w = [1] * 64  # every token adds exactly 1 → score == token count
    out = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id",
            F.coalesce(classifier_score(F.col("text"), w, bias=0), F.lit(0)).alias("s"),
        ).collect()
    }
    assert out == {1: 3, 2: 0, 3: 0}


def test_char_lm_likelihood_prefers_corpus_like_text(spark):
    from iceberg_ruby_spark.operators.text import char_lm_score, fit_char_lm

    corpus = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(10)],
        ["doc_id", "text"],
    )
    w = fit_char_lm(corpus)
    probe = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "zzz qqq xxx vvv"), (3, ""), (4, None)],
        ["doc_id", "text"],
    )
    s, n = char_lm_score(F.col("text"), w)
    got = {
        r["doc_id"]: (r["s"], r["n"])
        for r in probe.select(
            "doc_id", F.coalesce(s, F.lit(0)).alias("s"), n.alias("n")
        ).collect()
    }
    # per-bigram mean: corpus-like text scores near the 2^20 ceiling,
    # out-of-distribution junk scores near zero
    assert got[1][0] / got[1][1] > 500_000
    assert got[2][0] / max(got[2][1], 1) < 100_000
    assert got[3] == (0, 0) and got[4] == (0, 0)


def test_line_dedup_removes_corpus_duplicated_lines(spark):
    rows = [
        (1, "Home | About\nunique one\n\nCopyright 2020"),
        (2, "Home | About\nsecond doc body\nCopyright 2020"),
        (3, "only unique text here\n   \ntail line"),
        (4, "Home | About"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in ops.line_dedup(df).collect()}
    # duplicated lines removed everywhere; order + blank structure kept
    assert out[1].text == "unique one\n" and out[1].n_removed_lines == 2
    assert out[2].text == "second doc body" and out[2].n_removed_lines == 2
    # untouched doc passes through verbatim (whitespace-only line kept)
    assert out[3].text == rows[2][1] and out[3].n_removed_lines == 0
    # a doc that was ONLY boilerplate becomes empty but survives
    assert out[4].text == "" and out[4].n_removed_lines == 1
    assert out[5].text == "" and out[5].n_removed_lines == 0


def test_line_dedup_min_count_and_drop_empty(spark):
    rows = [
        (1, "dup line\nkeep a"),
        (2, "dup line\nkeep b"),
        (3, "dup line"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # min_count above the corpus frequency: nothing removed
    untouched = ops.line_dedup(df, min_count=4).collect()
    assert all(r.n_removed_lines == 0 for r in untouched)
    # drop_empty_docs removes the all-boilerplate doc entirely
    kept = ops.line_dedup(df, min_count=2, drop_empty_docs=True)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2]


def test_tfidf_top_terms(spark):
    rows = [
        (1, "apple banana apple cherry"),
        (2, "banana banana durian"),
        (3, "apple epsilon"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = ops.tfidf_top_terms(df, k=2)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: apple tf=2 df=2 beats cherry tf=1 df=1 beats banana tf=1 df=2
    d1 = sorted(by_doc[1], key=lambda r: r.rank)
    assert [r.term for r in d1] == ["apple", "cherry"]
    assert (d1[0].tf, d1[0].df) == (2, 2)
    import math
    assert abs(d1[0].tfidf - 2 * (math.log(5 / 3) + 1)) < 1e-12
    # ranks are dense 1..k and ties break by term ascending
    d3 = sorted(by_doc[3], key=lambda r: r.rank)
    assert [r.term for r in d3] == ["epsilon", "apple"]
    # null text yields no rows, not a crash
    assert 4 not in by_doc


def test_semantic_dedup(spark):
    # three well-separated direction clusters + a singleton
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.01, 0.0]),
        (3, [1.0, 0.05, 0.0]),
        (10, [0.0, 1.0, 0.0]),
        (11, [0.0, 1.0, 0.02]),
        (20, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = ops.semantic_dedup_pairs(
        df, threshold=0.99, n_cells=1, allow_single_cell=True
    )
    exact_set = {(r.id_a, r.id_b) for r in exact.collect()}
    assert exact_set == {(1, 2), (1, 3), (2, 3), (10, 11)}
    # celled path on separated clusters finds the same pairs (and is
    # always a subset of the exact path by construction)
    celled = ops.semantic_dedup_pairs(df, threshold=0.99, n_cells=3)
    assert {(r.id_a, r.id_b) for r in celled.collect()} == exact_set
    # min_id keep: smallest member of each family survives
    out = ops.semantic_dedup(df, threshold=0.99, n_cells=3)
    assert sorted(r.vec_id for r in out.collect()) == [1, 10, 20]
    # SemDeDup paper policy: keep the member least similar to its
    # centroid — id 3 deviates most within {1,2,3}
    far = ops.semantic_dedup(
        df, threshold=0.99, n_cells=3, keep="far_from_centroid"
    )
    ids = sorted(r.vec_id for r in far.collect())
    assert 3 in ids and 1 not in ids and 2 not in ids and len(ids) == 3
    assert far.columns == df.columns  # quality column dropped
    # quadratic path requires explicit opt-in
    import pytest as _pytest
    from iceberg_ruby_spark.errors import InvalidDataError

    with _pytest.raises(InvalidDataError):
        ops.semantic_dedup_pairs(df, n_cells=1)
    with _pytest.raises(InvalidDataError):
        ops.semantic_dedup(df, keep="bogus", n_cells=2)


def test_remove_shared_spans(spark):
    rows = [
        (1, "a b c d e x y z"),
        (2, "q r a b c d e s t"),
        (3, "unique words only here"),
        (4, "a b c d e"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in ops.remove_shared_spans(df, ngram=5).collect()}
    # first occurrence (doc 1, pos 0) keeps its copy; later copies cut
    assert out[1].text == "a b c d e x y z" and out[1].n_removed_tokens == 0
    assert out[2].text == "q r s t" and out[2].n_removed_tokens == 5
    assert out[3].text == "unique words only here"
    assert out[4].text == "" and out[4].n_removed_tokens == 5
    assert out[5].n_removed_tokens == 0
    # keep_first=False removes every copy
    all_cut = {
        r.doc_id: r
        for r in ops.remove_shared_spans(df, ngram=5, keep_first=False).collect()
    }
    assert all_cut[1].text == "x y z" and all_cut[1].n_removed_tokens == 5
    # drop_empty_docs removes fully-deduplicated documents (and keeps
    # the null-text doc out too, since its text is empty)
    kept = ops.remove_shared_spans(
        df, ngram=5, keep_first=False, drop_empty_docs=True
    )
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2, 3]


def test_remove_shared_spans_overlap_intervals(spark):
    # overlapping hit windows inside one document: the interval-gap
    # reassembly must cut the UNION of windows exactly once
    rows = [
        (1, "x a b c y"),
        (2, "p a b c q a b c r"),
        (3, "a b a b a b a b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in ops.remove_shared_spans(df, ngram=3).collect()}
    # "a b c" first occurs at (doc 1, pos 1): doc 1 keeps its copy
    assert out[1].text == "x a b c y" and out[1].n_removed_tokens == 0
    # doc 2 hits at pos 1 and 5 — disjoint windows, two gaps survive
    assert out[2].text == "p q r" and out[2].n_removed_tokens == 6
    # doc 3: "a b a"/"b a b" repeat within the doc; hits at pos 2,3,4,5
    # overlap pairwise — union [2,7], not 4 windows double-counted
    assert out[3].text == "a b" and out[3].n_removed_tokens == 6


def test_strip_html(spark):
    import pyspark.sql.functions as F

    html = (
        '<html><head><style>.x{color:red}</style></head>\n'
        '<body><!-- nav --><h1>Title</h1>\n'
        '<p>Hello &amp; welcome to <b>our</b> site.</p>\n'
        '<script type="text/js">var x = "<p>not text</p>";</script>\n'
        '<ul><li>one</li><li>two</li></ul>\n'
        '<div>End &lt;tag&gt; &nbsp;here</div></body></html>'
    )
    df = spark.createDataFrame(
        [(1, html), (2, None), (3, "plain text")], "id long, t string"
    )
    out = {
        r.id: r.txt
        for r in df.select(
            "id", ops.strip_html(F.col("t")).alias("txt")
        ).collect()
    }
    assert out[1] == (
        "Title\n\nHello & welcome to our site.\n\none\ntwo\n\nEnd <tag> here"
    )
    assert out[2] == ""  # null-safe
    assert out[3] == "plain text"  # idempotent on plain text


def test_decontaminate_spans(spark):
    corpus = spark.createDataFrame(
        [
            (1, "intro words What is the capital of France answer Paris end"),
            (2, "totally clean document with original content"),
            (3, "What is the capital of France"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(1, "what is the capital of france")], "q long, text string"
    )
    out = {
        r.doc_id: r
        for r in ops.decontaminate_spans(corpus, bench, ngram=6).collect()
    }
    # the quoted eval question is cut (case-folded match), rest survives
    assert out[1].text == "intro words answer Paris end"
    assert out[1].n_removed_tokens == 6
    assert out[2].text == "totally clean document with original content"
    assert out[3].text == "" and out[3].n_removed_tokens == 6
    assert out[4].text is None and out[4].n_removed_tokens == 0
    kept = ops.decontaminate_spans(corpus, bench, ngram=6, drop_empty_docs=True)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2]


def test_dedup_frames(spark):
    rows = [
        # media 1: static scene (frames 0-2 identical), then a change
        (1, 0, b"A"), (1, 1, b"A"), (1, 2, b"A"), (1, 3, b"B"),
        # media 2: alternating — nothing consecutive to drop
        (2, 0, b"A"), (2, 1, b"B"), (2, 2, b"A"),
        # undecodable frame passes through
        (3, 0, None),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, frame_index int, frame binary"
    )
    cons = sorted(
        (r.media_id, r.frame_index)
        for r in ops.dedup_frames(df, mode="consecutive").collect()
    )
    assert cons == [(1, 0), (1, 3), (2, 0), (2, 1), (2, 2), (3, 0)]
    glob = sorted(
        (r.media_id, r.frame_index)
        for r in ops.dedup_frames(df, mode="global").collect()
    )
    # one survivor per distinct payload: A->(1,0), B->(1,3); null passes
    assert glob == [(1, 0), (1, 3), (3, 0)]
    import pytest

    from iceberg_ruby_spark.errors import InvalidDataError

    with pytest.raises(InvalidDataError):
        ops.dedup_frames(df, mode="bogus")


def test_funnel(spark):
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)

    def ev(u, typ, secs):
        return (u, typ, t0 + dt.timedelta(seconds=secs))

    rows = [
        # u1 completes all three in order
        ev(1, "view", 0), ev(1, "click", 10), ev(1, "purchase", 20),
        # u2: click BEFORE the view doesn't count; no purchase
        ev(2, "click", 0), ev(2, "view", 5), ev(2, "click", 9),
        # u3: view only
        ev(3, "view", 0),
        # u4: purchase without prior steps counts for nothing
        ev(4, "purchase", 0),
        # u5 completes but slowly (fails the windowed variant)
        ev(5, "view", 0), ev(5, "click", 100), ev(5, "purchase", 200),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    out = {r.step: r.users for r in ops.funnel(df, ["view", "click", "purchase"]).collect()}
    assert out == {"view": 4, "click": 3, "purchase": 2}
    # conversion window from the first step's match
    win = {
        r.step: r.users
        for r in ops.funnel(
            df, ["view", "click", "purchase"], within_seconds=60
        ).collect()
    }
    assert win == {"view": 4, "click": 2, "purchase": 1}


def test_retention_cohorts(spark):
    import datetime as dt

    w = dt.timedelta(days=7)
    t0 = dt.datetime(2026, 1, 5)  # a Monday
    rows = [
        (1, t0), (1, t0 + w), (1, t0 + 2 * w),     # cohort w0, 3 weeks
        (2, t0 + dt.timedelta(days=2)), (2, t0 + w),  # cohort w0, weeks 0+1
        (3, t0 + w),                                 # cohort w1, week 0 only
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        (r.cohort.date().isoformat(), r.period_offset): r.users
        for r in ops.retention_cohorts(df, period="week").collect()
    }
    assert out == {
        ("2026-01-05", 0): 2, ("2026-01-05", 1): 2, ("2026-01-05", 2): 1,
        ("2026-01-12", 0): 1,
    }
    import pytest

    with pytest.raises(ValueError):
        ops.retention_cohorts(df, period="fortnight")


def test_funnel_hot_user_guard(spark):
    """max_events_per_user: deterministic keep-earliest cap on the
    per-user fold array (the hot-bot guard), plus the mechanical
    ResourceWarning on the unguarded path (VERDICT r7 #5)."""
    import datetime as dt
    import warnings

    t0 = dt.datetime(2026, 1, 1)

    def ev(u, typ, secs):
        return (u, typ, t0 + dt.timedelta(seconds=secs))

    # u1 is a 'bot': 50 views, then click+purchase LATE (beyond the cap)
    rows = [ev(1, "view", s) for s in range(50)]
    rows += [ev(1, "click", 100), ev(1, "purchase", 200)]
    # u2 completes inside the first 5 events
    rows += [ev(2, "view", 0), ev(2, "click", 1), ev(2, "purchase", 2)]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")

    # uncapped path warns (and still computes the full-depth answer)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        full = {
            r.step: r.users
            for r in ops.funnel(df, ["view", "click", "purchase"]).collect()
        }
    assert any(
        issubclass(x.category, ResourceWarning) and "funnel" in str(x.message)
        for x in w
    )
    assert full == {"view": 2, "click": 2, "purchase": 2}

    # capped: u1's click/purchase fall outside the earliest-10 window;
    # u2 is unaffected — earliest-match semantics preserved under the cap
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        capped = {
            r.step: r.users
            for r in ops.funnel(
                df, ["view", "click", "purchase"], max_events_per_user=10
            ).collect()
        }
    assert not any(
        issubclass(x.category, ResourceWarning) and "funnel" in str(x.message)
        for x in w
    )
    assert capped == {"view": 2, "click": 1, "purchase": 1}

    with pytest.raises(Exception, match="positive"):
        ops.funnel(df, ["view"], max_events_per_user=0)


def test_ppm_codec_roundtrip_and_resize():
    """r10: the REAL pure-python P6 codec on hand-built bytes — header
    grammar (comments, whitespace), raster decode, nearest-neighbor
    resize with known pixel mapping."""
    # hand-built 2x2 image: R, G, B, white
    raster = bytes([255, 0, 0,  0, 255, 0,  0, 0, 255,  255, 255, 255])
    payload = b"P6\n# a comment\n2 2\n255\n" + raster
    w, h, maxval, got = ops.decode_ppm(payload)
    assert (w, h, maxval) == (2, 2, 255)
    assert got == raster
    # encode → decode roundtrip
    assert ops.decode_ppm(ops.encode_ppm(2, 2, raster))[3] == raster
    # nearest-neighbor upscale 2x2 → 4x4: each source pixel becomes a
    # 2x2 block (floor mapping: dst x in {0,1} → src 0, {2,3} → src 1)
    up = ops.resize_ppm_nearest(payload, 4, 4)
    uw, uh, _, ur = ops.decode_ppm(up)
    assert (uw, uh) == (4, 4)
    def px(r, x, y, width):  # noqa: E306
        p = 3 * (y * width + x)
        return tuple(r[p:p + 3])
    assert px(ur, 0, 0, 4) == px(ur, 1, 1, 4) == (255, 0, 0)
    assert px(ur, 3, 0, 4) == (0, 255, 0)
    assert px(ur, 0, 3, 4) == (0, 0, 255)
    assert px(ur, 3, 3, 4) == (255, 255, 255)
    # downscale 2x2 → 1x1 keeps the floor-mapped origin pixel
    down = ops.resize_ppm_nearest(payload, 1, 1)
    assert ops.decode_ppm(down)[3] == bytes([255, 0, 0])
    # features: exact integer sums
    f = ops._ppm_features(payload)
    assert f == [2.0, 2.0, 255.0, 510.0, 510.0, 510.0, 4.0]
    with pytest.raises(ValueError, match="P6"):
        ops.decode_ppm(b"P3\n1 1\n255\n000")
    with pytest.raises(ValueError, match="truncated"):
        ops.decode_ppm(b"P6\n2 2\n255\n\x00\x01")


def test_wav_codec_roundtrip():
    """r10: the REAL pure-python RIFF/PCM16 codec on hand-built bytes —
    chunk walk (unknown chunks skipped), sample decode, features."""
    samples = [0, 100, -100, 32767, -32768, 7]
    payload = ops.encode_wav(8000, 2, samples)
    d = ops.decode_wav(payload)
    assert d == {"sample_rate": 8000, "n_channels": 2, "samples": samples}
    # an extra chunk between fmt and data is skipped (word-aligned walk)
    import struct
    body = payload[12:]
    fmt_chunk = body[:8 + struct.unpack("<I", body[4:8])[0]]
    data_chunk = body[len(fmt_chunk):]
    junk = b"LIST" + struct.pack("<I", 3) + b"abc\x00"  # odd size, padded
    rebuilt = b"RIFF" + struct.pack(
        "<I", 4 + len(fmt_chunk) + len(junk) + len(data_chunk)
    ) + b"WAVE" + fmt_chunk + junk + data_chunk
    assert ops.decode_wav(rebuilt)["samples"] == samples
    f = ops._wav_features(payload)
    # [rate, channels, n_samples, sum_abs, max_abs, duration_ms]
    assert f == [8000.0, 2.0, 6.0, 65742.0, 32768.0, 0.0]
    with pytest.raises(ValueError, match="PCM16"):
        bad_fmt = bytearray(payload)
        bad_fmt[20] = 3  # float format tag
        ops.decode_wav(bytes(bad_fmt))
    with pytest.raises(ValueError, match="RIFF"):
        ops.decode_wav(b"OggS0000")


def test_png_codec_filters_and_chunk_walk():
    """r11: the REAL pure-python PNG codec — encode→decode roundtrip
    under EVERY scanline filter type (0–4), RGB and RGBA, CRC-validated
    chunk walk, loud refusals for the unsupported shapes."""
    import struct
    import zlib

    raster = bytes([255, 0, 0,  0, 255, 0,  0, 0, 255,  255, 255, 255])
    for f in range(5):
        p = ops.encode_png(2, 2, raster, filters=f)
        assert ops.decode_png(p) == (2, 2, 3, raster), f"filter {f}"
    # mixed per-row filters + RGBA
    rgba = bytes((i * 31) % 256 for i in range(4 * 3 * 4))  # 4x3 RGBA
    p = ops.encode_png(4, 3, rgba, channels=4, filters=[1, 4, 3])
    assert ops.decode_png(p) == (4, 3, 4, rgba)
    # Paeth reference vector: hand-computed reconstruction of one row.
    # Row 0 (Up against zero prev == raw), row 1 Paeth: first pixel's
    # predictor is (left=0, up=prev, ul=0) → picks up; later pixels pick
    # the nearest of left/up/ul
    two = bytes([10, 20, 30,  40, 50, 60,
                 13, 22, 35,  45, 48, 62])
    pp = ops.encode_png(2, 2, two, filters=[0, 4])
    assert ops.decode_png(pp)[3] == two
    # CRC corruption is detected
    good = bytearray(ops.encode_png(2, 2, raster))
    idat_at = bytes(good).index(b"IDAT")
    good[idat_at + 4] ^= 0xFF  # flip a data byte under the CRC
    with pytest.raises(ValueError, match="CRC"):
        ops.decode_png(bytes(good))
    # refusals: bad signature, 16-bit depth, palette, interlaced
    with pytest.raises(ValueError, match="signature"):
        ops.decode_png(b"\x89JNG\r\n\x1a\n" + b"\x00" * 20)

    def ihdr_variant(depth=8, color=2, interlace=0):
        ihdr = struct.pack(">IIBBBBB", 1, 1, depth, color, 0, 0, interlace)
        chunk = (
            struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
            + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
        )
        end = struct.pack(">I", 0) + b"IEND" + struct.pack(
            ">I", zlib.crc32(b"IEND") & 0xFFFFFFFF
        )
        return ops._PNG_SIG + chunk + end

    with pytest.raises(ValueError, match="depth"):
        ops.decode_png(ihdr_variant(depth=16))
    with pytest.raises(ValueError, match="color type 3"):
        ops.decode_png(ihdr_variant(color=3))
    with pytest.raises(ValueError, match="interlac"):
        ops.decode_png(ihdr_variant(interlace=1))
    # nearest-neighbor resize: same floor mapping as the PPM resampler
    up = ops.resize_png_nearest(ops.encode_png(2, 2, raster), 4, 4)
    uw, uh, uc, ur = ops.decode_png(up)
    assert (uw, uh, uc) == (4, 4, 3)
    assert tuple(ur[0:3]) == (255, 0, 0) and tuple(ur[3 * 15 :]) == (255, 255, 255)
    # features: exact integer sums, sum_a=0 for RGB
    assert ops._png_features(ops.encode_png(2, 2, raster)) == [
        2.0, 2.0, 3.0, 510.0, 510.0, 510.0, 0.0, 4.0
    ]
    a = ops._png_features(ops.encode_png(1, 1, bytes([1, 2, 3, 4]), channels=4))
    assert a == [1.0, 1.0, 4.0, 1.0, 2.0, 3.0, 4.0, 1.0]


def test_png_through_spark_pipeline(spark):
    """PNG payloads through the SAME distributed plumbing as ppm/wav:
    resize_media(resizer='png') then decode_media_batch(decoder='png')."""
    imgs = [
        (1, ops.encode_png(2, 2, bytes(range(12)), filters=2)),
        (2, ops.encode_png(1, 1, bytes([9, 8, 7, 6]), channels=4)),
    ]
    df = spark.createDataFrame(imgs, ["media_id", "payload"])
    tagged = ops.attach_media_metadata(df, "payload", fmt="png")
    resized = ops.resize_media(tagged, width=1, height=1, resizer="png")
    feats = {
        r["media_id"]: r["features"]
        for r in ops.decode_media_batch(resized, decoder="png").collect()
    }
    assert feats[1] == [1.0, 1.0, 3.0, 0.0, 1.0, 2.0, 0.0, 1.0]
    assert feats[2] == [1.0, 1.0, 4.0, 9.0, 8.0, 7.0, 6.0, 1.0]


def test_jpeg_codec_baseline():
    """r11: the REAL pure-python baseline JPEG codec — flat 8x8 blocks
    with unit quant round-trip exactly through huffman/DCT (only the
    JFIF integer color-convert double-rounding changes values), DC
    prediction across blocks, restart markers, odd dims, refusals."""
    import math
    import struct

    def through_ycbcr(r, g, b):
        y = math.floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5)
        cb = math.floor(128 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5)
        cr = math.floor(128 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5)
        y, cb, cr = (max(0, min(255, v)) for v in (y, cb, cr))
        r2 = math.floor(y + 1.402 * (cr - 128) + 0.5)
        g2 = math.floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5)
        b2 = math.floor(y + 1.772 * (cb - 128) + 0.5)
        return tuple(max(0, min(255, v)) for v in (r2, g2, b2))

    # two flat blocks with different colors: DC prediction on the line
    cols = [(200, 30, 90), (10, 240, 55)]
    raster = bytearray()
    for y in range(8):
        for x in range(16):
            raster += bytes(cols[x // 8])
    p = ops.encode_jpeg(16, 8, bytes(raster))
    w, h, ch, dr = ops.decode_jpeg(p)
    assert (w, h, ch) == (16, 8, 3)
    for y in range(8):
        for x in range(16):
            i = 3 * (y * 16 + x)
            assert tuple(dr[i : i + 3]) == through_ycbcr(*cols[x // 8])
    # odd dims pad by edge replication and crop back
    p = ops.encode_jpeg(5, 3, bytes([120, 60, 200] * 15))
    w, h, ch, dr = ops.decode_jpeg(p)
    assert (w, h) == (5, 3)
    assert tuple(dr[:3]) == through_ycbcr(120, 60, 200)
    # restart intervals: RSTn emitted and resynchronized
    p = ops.encode_jpeg(24, 8, bytes([5, 250, 125] * (24 * 8)), restart_interval=1)
    assert b"\xff\xd0" in p and b"\xff\xd1" in p
    assert ops.decode_jpeg(p)[3][:3] == bytes(through_ycbcr(5, 250, 125))
    # non-flat content with unit quant decodes CLOSE (lossy, bounded)
    import random

    random.seed(11)
    src = bytes(random.randrange(256) for _ in range(3 * 8 * 8))
    _, _, _, out = ops.decode_jpeg(ops.encode_jpeg(8, 8, src))
    mean_err = sum(abs(a - b) for a, b in zip(src, out)) / len(src)
    assert mean_err < 6, mean_err
    # refusals: progressive SOF2, missing SOI
    with pytest.raises(ValueError, match="SOI"):
        ops.decode_jpeg(b"\x00\x00")
    sof2 = bytearray(ops.encode_jpeg(8, 8, bytes(192)))
    at = bytes(sof2).index(b"\xff\xc0")
    sof2[at + 1] = 0xC2
    with pytest.raises(ValueError, match="SOF2"):
        ops.decode_jpeg(bytes(sof2))
    # features: exact sums for the flat case
    f = ops._jpeg_features(ops.encode_jpeg(8, 8, bytes([1, 2, 3] * 64)))
    exp = through_ycbcr(1, 2, 3)
    assert f == [8.0, 8.0, 3.0, 64.0 * exp[0], 64.0 * exp[1], 64.0 * exp[2], 64.0]


def test_jpeg_codec_420_subsampling():
    """r11: 4:2:0 chroma subsampling — the MCU-interleaved decode path
    (2x2 luma blocks + 1 Cb + 1 Cr per MCU, nearest-neighbor chroma
    upsampling).  Per-16x16-macroblock flat colors round-trip exactly
    (block-averaged chroma is exact over flat regions)."""
    import math

    def conv(r, g, b):
        y = math.floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5)
        cb = math.floor(128 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5)
        cr = math.floor(128 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5)
        y, cb, cr = (max(0, min(255, v)) for v in (y, cb, cr))
        r2 = math.floor(y + 1.402 * (cr - 128) + 0.5)
        g2 = math.floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5)
        b2 = math.floor(y + 1.772 * (cb - 128) + 0.5)
        return tuple(max(0, min(255, v)) for v in (r2, g2, b2))

    cols = [(200, 30, 90), (10, 240, 55)]
    raster = bytearray()
    for y in range(16):
        for x in range(32):
            raster += bytes(cols[x // 16])
    p = ops.encode_jpeg(32, 16, bytes(raster), subsampling="420")
    w, h, ch, dr = ops.decode_jpeg(p)
    assert (w, h, ch) == (32, 16, 3)
    for y in range(16):
        for x in range(32):
            i = 3 * (y * 32 + x)
            assert tuple(dr[i : i + 3]) == conv(*cols[x // 16]), (x, y)
    # odd dims pad/crop through the subsampled grid
    p = ops.encode_jpeg(9, 5, bytes([120, 60, 200] * 45), subsampling="420")
    w, h, _, dr = ops.decode_jpeg(p)
    assert (w, h) == (9, 5)
    assert all(
        tuple(dr[i : i + 3]) == conv(120, 60, 200) for i in range(0, len(dr), 3)
    )
    # restart markers at MCU granularity on the subsampled grid
    p = ops.encode_jpeg(
        48, 16, bytes([5, 250, 125] * (48 * 16)),
        restart_interval=1, subsampling="420",
    )
    assert ops.decode_jpeg(p)[3][:3] == bytes(conv(5, 250, 125))
    with pytest.raises(ValueError, match="subsampling"):
        ops.encode_jpeg(8, 8, bytes(192), subsampling="422")


def test_jpeg_through_spark_pipeline(spark):
    imgs = [(1, ops.encode_jpeg(8, 8, bytes([9, 8, 7] * 64)))]
    df = spark.createDataFrame(imgs, ["media_id", "payload"])
    tagged = ops.attach_media_metadata(df, "payload", fmt="jpeg")
    feats = ops.decode_media_batch(tagged, decoder="jpeg").collect()[0]["features"]
    assert feats[0:3] == [8.0, 8.0, 3.0] and feats[6] == 64.0


def test_real_codecs_through_spark_pipeline(spark):
    """The real codecs run through the SAME distributed plumbing as the
    fake: build P6/WAV payloads, resize_media with the real resampler,
    decode_media_batch with the real decoders — exact expected features."""
    imgs = [
        (1, ops.encode_ppm(2, 2, bytes(range(12)))),
        (2, ops.encode_ppm(3, 1, bytes(range(100, 109)))),
    ]
    df = spark.createDataFrame(imgs, ["media_id", "payload"])
    tagged = ops.attach_media_metadata(df, "payload", fmt="ppm")
    resized = ops.resize_media(tagged, width=1, height=1, resizer="ppm")
    feats = {
        r["media_id"]: r["features"]
        for r in ops.decode_media_batch(resized, decoder="ppm").collect()
    }
    assert feats[1] == [1.0, 1.0, 255.0, 0.0, 1.0, 2.0, 1.0]
    assert feats[2] == [1.0, 1.0, 255.0, 100.0, 101.0, 102.0, 1.0]
    wavs = [(1, ops.encode_wav(16000, 1, [5, -3, 2, 0]))]
    wdf = spark.createDataFrame(wavs, ["media_id", "payload"])
    wfeats = ops.decode_media_batch(
        ops.attach_media_metadata(wdf, "payload", fmt="wav"), decoder="wav"
    ).collect()[0]["features"]
    assert wfeats == [16000.0, 1.0, 4.0, 10.0, 5.0, 0.0]


def test_shuffle_corpus_deterministic_and_partition_invariant(spark):
    from iceberg_ruby_spark.operators import shuffle_corpus

    df = spark.createDataFrame([(i, f"d{i}") for i in range(500)], ["doc_id", "text"])
    base = [r["doc_id"] for r in shuffle_corpus(df, seed=7).collect()]
    assert sorted(base) == list(range(500))
    assert base != list(range(500))  # actually permuted
    # same (seed, ids) -> same order regardless of input partitioning
    again = [
        r["doc_id"]
        for r in shuffle_corpus(df.repartition(17), seed=7).collect()
    ]
    assert again == base
    # a different seed is a different epoch permutation
    other = [r["doc_id"] for r in shuffle_corpus(df, seed=8).collect()]
    assert other != base and sorted(other) == sorted(base)
    # md5 engine: same guarantees, different (cross-engine-checkable) order
    md5_1 = [r["doc_id"] for r in shuffle_corpus(df, seed=7, engine="md5").collect()]
    md5_2 = [
        r["doc_id"]
        for r in shuffle_corpus(df.repartition(5), seed=7, engine="md5").collect()
    ]
    assert md5_1 == md5_2 and sorted(md5_1) == sorted(base)
    import pytest as _pt

    with _pt.raises(ValueError, match="engine"):
        shuffle_corpus(df, engine="bogus")


def test_sample_k_per_group_semantics(spark):
    from iceberg_ruby_spark.operators import sample_k_per_group

    rows = [(i, "a" if i < 60 else "b") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "g"])
    out = sample_k_per_group(df, "g", 10, seed=3).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append(r["doc_id"])
    assert len(by_g["a"]) == 10 and len(by_g["b"]) == 10
    # deterministic + partition-invariant
    out2 = sample_k_per_group(df.repartition(13), "g", 10, seed=3).collect()
    assert sorted((r["g"], r["doc_id"]) for r in out2) == sorted(
        (r["g"], r["doc_id"]) for r in out
    )
    # a group smaller than k survives whole
    small = spark.createDataFrame([(1, "x"), (2, "x")], ["doc_id", "g"])
    assert len(sample_k_per_group(small, "g", 10).collect()) == 2
    # appending docs to ANOTHER group never changes this group's draw
    df2 = df.union(spark.createDataFrame([(1000 + i, "c") for i in range(50)], ["doc_id", "g"]))
    out3 = sample_k_per_group(df2, "g", 10, seed=3).collect()
    a3 = sorted(r["doc_id"] for r in out3 if r["g"] == "a")
    assert a3 == sorted(by_g["a"])
    import pytest as _pt

    with _pt.raises(ValueError, match="positive"):
        sample_k_per_group(df, "g", 0)


def test_probe_media_containers():
    """r11: header-only container probes — magic-byte dispatch, box/chunk
    walking, fixed-point dims, duration math, and loud refusals."""
    import struct

    assert ops.probe_media(ops.encode_png(5, 3, bytes(45))) == {
        "format": "png", "width": 5, "height": 3
    }
    assert ops.probe_media(ops.encode_jpeg(16, 8, bytes(3 * 16 * 8))) == {
        "format": "jpeg", "width": 16, "height": 8
    }
    assert ops.probe_media(ops.encode_ppm(4, 2, bytes(24))) == {
        "format": "ppm", "width": 4, "height": 2
    }
    # wav: 16 samples / 2 channels = 8 frames at 8 kHz -> 1 ms
    assert ops.probe_media(ops.encode_wav(8000, 2, [0] * 16)) == {
        "format": "wav", "duration_ms": 1
    }
    p = ops.encode_mp4_meta(640, 360, 123456, timescale=90000)
    assert ops.probe_media(p) == {
        "format": "mp4", "duration_ms": 123456, "width": 640, "height": 360
    }
    # version-1 mvhd (64-bit durations) parses too
    def box(t, b):
        return struct.pack(">I", len(b) + 8) + t + b
    mvhd1 = box(
        b"mvhd",
        b"\x01\x00\x00\x00" + struct.pack(">QQ", 0, 0)
        + struct.pack(">IQ", 90000, 90000 * 7) + b"\x00" * 80,
    )
    p = box(b"ftyp", b"isom\x00\x00\x02\x00isom") + box(b"moov", mvhd1)
    assert ops.probe_media(p) == {"format": "mp4", "duration_ms": 7000}
    # a box whose declared size overruns the payload refuses
    bad = bytearray(ops.encode_mp4_meta(1, 1, 10))
    bad[0:4] = struct.pack(">I", 1 << 24)
    with pytest.raises(ValueError, match="out of bounds"):
        ops.probe_media(bytes(bad))
    # mp3: 10 CBR frames at 128 kbps
    p = ops.encode_mp3_meta(128, n_frames=10)
    assert ops.probe_media(p) == {
        "format": "mp3", "duration_ms": len(p) * 8 * 1000 // 128000
    }
    with pytest.raises(ValueError, match="reserved"):
        ops.probe_media(bytes([0xFF, 0xFB, 0xF0, 0x00, 0, 0, 0, 0]))  # bitrate idx 15
    with pytest.raises(ValueError, match="unrecognized"):
        ops.probe_media(b"GIF89a\x00\x00\x00\x00")


def test_probe_media_meta_distributed(spark):
    """probe_media_meta fills the meta struct distributed; unrecognized
    payloads degrade to format='bin' with NULL dims, never failing."""
    rows = [
        (1, ops.encode_png(4, 2, bytes(24))),
        (2, ops.encode_mp4_meta(320, 240, 5000)),
        (3, b"not media at all...."),
    ]
    df = spark.createDataFrame(rows, ["media_id", "payload"])
    out = {r["media_id"]: r["meta"] for r in ops.probe_media_meta(df).collect()}
    assert out[1]["format"] == "png" and (out[1]["width"], out[1]["height"]) == (4, 2)
    assert out[2]["format"] == "mp4" and out[2]["duration_ms"] == 5000
    assert out[3]["format"] == "bin" and out[3]["width"] is None
    assert out[3]["size_bytes"] == 20
