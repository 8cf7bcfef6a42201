"""Degenerate-input behavior: empty frames, single rows, malformed JSON,
graphs with no edges. These never show up in the fixture-driven oracle
tests but are exactly what a long-running pipeline hits at 3am."""

from __future__ import annotations

from pyspark.sql import functions as F

from crypto_streaming_lakehouse_spark.extensions import dedup as D
from crypto_streaming_lakehouse_spark.operators.asof import asof_join_backward
from crypto_streaming_lakehouse_spark.operators.bars import ohlcv_bars
from crypto_streaming_lakehouse_spark.schemas import TRADE_PAYLOAD_SCHEMA
from crypto_streaming_lakehouse_spark.transforms import bronze_to_silver

from .conftest import SF_DIR
from .oracle import canonical_rows


def _trades(spark, rows):
    return spark.createDataFrame(
        rows, "symbol string, event_time timestamp, price double, size double"
    )


def test_ohlcv_empty_input(spark):
    out = ohlcv_bars(_trades(spark, []))
    assert out.count() == 0
    # schema intact even with no rows
    assert {"symbol", "bar_start", "open", "close", "vwap"} <= set(out.columns)


def test_ohlcv_single_trade(spark):
    import datetime

    t = datetime.datetime(2024, 1, 1, 12, 0, 30)
    out = ohlcv_bars(_trades(spark, [("BTC", t, 100.0, 2.0)])).first()
    assert out.open == out.close == out.high == out.low == 100.0
    assert out.vwap == 100.0 and out.trades == 1


def test_ohlcv_zero_size_vwap_null(spark):
    import datetime

    t = datetime.datetime(2024, 1, 1, 12, 0, 30)
    out = ohlcv_bars(_trades(spark, [("BTC", t, 100.0, 0.0)])).first()
    assert out.volume == 0.0
    assert out.vwap is None  # guarded division, no ANSI error, no NaN


def _per_field_silver(bronze):
    """Silver as it was built before it parsed once: each payload field
    read straight off one from_json, which Spark's JSON optimizer splits
    into one single-field parse per field. Kept as the reference for
    which fields survive a partly bad payload."""
    p = F.from_json(F.col("value_raw"), TRADE_PAYLOAD_SCHEMA)
    return bronze.select(
        "topic", "partition", "offset", "ts_kafka", "key", "value_raw",
        *(p.getField(f).alias(f)
          for f in ("exchange", "symbol", "price", "size", "side", "order_type")),
        F.timestamp_millis(p.getField("ts_event")).alias("event_time"),
        F.timestamp_millis(p.getField("ts_ingest")).alias("ingest_time"),
    ).withColumn("event_date", F.to_date(F.col("event_time")))


def test_bronze_to_silver_malformed_json(spark):
    payloads = [
        "not json at all",
        '{"symbol": "BTC"',  # truncated
        None,
        # partial results: a bad field is null, the others still parse
        '{"symbol": "BTC", "price": "abc", "size": 1.0, "side": "buy",'
        ' "ts_event": 1700000000000}',
        '{"symbol": "ETH", "price": 2.5}',
        '{"symbol": "SOL", "price": 3.0, "meta": {"venue": {"id": 7}},'
        ' "size": 4.0}',
        '{"symbol": "ADA", "price": 1.0, "price": 2.0}',
        '{"symbol": "XRP", "size": "5", "ts_event": "1700000000000"}',
        '{"symbol": "DOT", "price": 6.0} trailing text',
        '{"symbol": "LTC", "price": "NaN", "size": 1.0}',
    ]
    bronze = spark.createDataFrame(
        [("t", 0, i, None, 0, "k", v) for i, v in enumerate(payloads)],
        "topic string, partition int, offset long, ts_kafka timestamp, "
        "ts_type int, key string, value_raw string",
    )
    out = bronze_to_silver(bronze)
    # malformed payloads survive as rows with null parsed columns (audit
    # lineage retained), matching the reference's permissive from_json
    assert out.count() == len(payloads)
    assert out.where(F.col("offset") < 3).where(
        F.col("symbol").isNull()
    ).count() == 3
    assert canonical_rows(out.columns, out.collect()) == canonical_rows(
        out.columns, _per_field_silver(bronze).collect()
    )
    bad_price = out.where(F.col("offset") == 3).first()
    assert bad_price.price is None
    assert (bad_price.symbol, bad_price.size, bad_price.side) == ("BTC", 1.0, "buy")
    assert bad_price.event_date is not None


def test_word_ngrams_short_texts(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "one two"), (4, "one two three")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.g
        for r in df.select(
            "doc_id", D.word_ngrams(F.col("text"), 3).alias("g")
        ).collect()
    }
    assert got[1] == [] and got[2] == [] and got[3] == []
    assert got[4] == ["one two three"]


def test_dup_components_no_edges(spark):
    verts = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long, jaccard double")
    out = D.dup_components(pairs, verts)
    assert {(r.doc_id, r.component) for r in out.collect()} == {
        (1, 1), (2, 2), (3, 3)
    }


def test_dup_components_chain_closure(spark):
    # A~B, B~C, D~E: transitivity must group {1,2,3} and {4,5}
    verts = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (4, 5, 0.9)],
        "id_a long, id_b long, jaccard double",
    )
    got = {(r.doc_id, r.component) for r in D.dup_components(pairs, verts).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)}


def test_dup_components_deep_chain_shortcut(spark):
    # 0-1-2-...-40 path graph: diameter 40. Pointer doubling covers
    # doubling label distance per round, so max_iter=10 suffices (~6
    # rounds); plain propagation would need 40 rounds and must NOT have
    # converged within the same budget.
    n = 41
    verts = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)],
        "id_a long, id_b long, jaccard double",
    )
    out = D.dup_components(pairs, verts, max_iter=10, shortcut=True)
    assert {r.component for r in out.collect()} == {0}
    plain = D.dup_components(pairs, verts, max_iter=10)
    assert {r.component for r in plain.collect()} != {0}


def test_dup_components_reliable_checkpoint(spark, tmp_path):
    # With a checkpoint dir configured, lineage cuts go through the
    # fault-tolerant checkpoint path and results are unchanged.
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        verts = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
        pairs = spark.createDataFrame(
            [(1, 2, 0.9), (2, 3, 0.9), (4, 5, 0.9)],
            "id_a long, id_b long, jaccard double",
        )
        got = {
            (r.doc_id, r.component)
            for r in D.dup_components(pairs, verts).collect()
        }
        assert got == {(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)}
        import os

        assert any(os.scandir(tmp_path / "ckpt"))
    finally:
        # restore the module-scoped session's default (no checkpoint dir)
        sc._jsc.setCheckpointDir(None)


def test_asof_join_no_preceding_right(spark):
    import datetime

    d = datetime.datetime
    left = spark.createDataFrame(
        [(1, d(2024, 1, 1, 10, 0), 5.0)], "user_id long, t timestamp, x double"
    )
    right = spark.createDataFrame(
        [(1, d(2024, 1, 1, 11, 0), 7.0)], "user_id long, t timestamp, y double"
    )
    out = asof_join_backward(
        left, right, on=["user_id"], time_col="t", right_value_cols=["y"]
    ).first()
    assert out.x == 5.0 and out.y is None  # right row is AFTER → no match


def test_asof_join_tie_is_inclusive(spark):
    import datetime

    t = datetime.datetime(2024, 1, 1, 10, 0)
    left = spark.createDataFrame([(1, t, 5.0)], "user_id long, t timestamp, x double")
    right = spark.createDataFrame([(1, t, 7.0)], "user_id long, t timestamp, y double")
    out = asof_join_backward(
        left, right, on=["user_id"], time_col="t", right_value_cols=["y"]
    ).first()
    assert out.y == 7.0  # same-instant right row counts (at-or-before)


def test_ppm_parser_handles_comments_and_rejects_truncation():
    from crypto_streaming_lakehouse_spark.extensions.multimodal import _parse_ppm

    px = bytes(range(12))  # 2x2 RGB
    ok = b"P6\n# a comment\n2 2\n# another\n255\n" + px
    w, h, maxval, raster = _parse_ppm(ok)
    assert (w, h, maxval) == (2, 2, 255) and raster == px

    import pytest as _pytest

    with _pytest.raises(ValueError, match="truncated"):
        _parse_ppm(b"P6\n2 2\n255\n" + px[:-1])
    with _pytest.raises(ValueError, match="not a P6"):
        _parse_ppm(b"P5\n2 2\n255\n" + px)


def test_wav_decode_rejects_wrong_sample_width(spark):
    import struct

    from crypto_streaming_lakehouse_spark.extensions import multimodal as M

    # 8-bit PCM header: sampwidth 1 — the decoder must refuse, not
    # silently misparse
    data = bytes(range(16))
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
        + b"data" + struct.pack("<I", len(data))
    )
    bad = spark.createDataFrame(
        [(1, bytearray(hdr + data))], "media_id long, payload binary"
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="16-bit"):
        M.decode_audio(bad).collect()


def test_pagerank_mass_conserved(spark):
    """Total PageRank mass must equal 1 (teleport + damped contributions
    redistribute, never create or destroy mass), and every rank is
    positive."""
    from crypto_streaming_lakehouse_spark.registry import REGISTRY

    rows = REGISTRY["q_pagerank"].fn(spark, SF_DIR).collect()
    total = sum(r["rank"] for r in rows)
    assert abs(total - 1.0) < 1e-3
    assert all(r["rank"] > 0 for r in rows)


def test_stratified_sample_deterministic_and_bounded(spark):
    """Hash sampling is idempotent across runs and each stratum's keep
    rate lands near its configured percentage."""
    from crypto_streaming_lakehouse_spark.registry import REGISTRY
    from crypto_streaming_lakehouse_spark.registry_round2 import STRATA_PCT
    from crypto_streaming_lakehouse_spark.sources.tables import load_table

    fn = REGISTRY["q_stratified_sample"].fn
    a = {r["event_id"] for r in fn(spark, SF_DIR).collect()}
    b = {r["event_id"] for r in fn(spark, SF_DIR).collect()}
    assert a == b
    base = (
        load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .count()
        .collect()
    )
    totals = {r["event_type"]: r["count"] for r in base}
    kept = fn(spark, SF_DIR).groupBy("event_type").count().collect()
    for r in kept:
        rate = r["count"] / totals[r["event_type"]]
        want = STRATA_PCT[r["event_type"]] / 100
        assert abs(rate - want) < 0.12, (r["event_type"], rate, want)


def test_hll_union_accuracy(spark):
    """The unioned HLL estimate must land within 5% of the exact global
    distinct count (default lgConfigK=12 gives ~1.6% standard error)."""
    from pyspark.sql import functions as F

    from crypto_streaming_lakehouse_spark.registry import REGISTRY
    from crypto_streaming_lakehouse_spark.sources.tables import load_table

    row = REGISTRY["q_hll_sketch_union"].fn(spark, SF_DIR).first()
    exact = (
        load_table(spark, SF_DIR, "events")
        .agg(F.count_distinct(F.col("user_id")))
        .first()[0]
    )
    assert row["union_est_within_5pct"] is True
    assert row["exact_total_users"] == exact
    # the union must NOT be the sum of per-type counts (users overlap)
    assert row["exact_total_users"] < row["sum_per_type_exact"]


def test_pack_sequences_conserves_tokens(spark):
    """Packing must conserve the token stream exactly: per-sequence
    token counts sum to the corpus total, every sequence except the
    last is exactly full, and sequence ids are contiguous from 0."""
    from crypto_streaming_lakehouse_spark.registry import REGISTRY
    from crypto_streaming_lakehouse_spark.registry_round3 import PACK_LEN
    from crypto_streaming_lakehouse_spark.sources.tables import load_table

    rows = REGISTRY["q_pack_sequences"].fn(spark, SF_DIR).collect()
    docs = load_table(spark, SF_DIR, "documents")
    total = docs.select(
        F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("n")
    ).collect()[0]["n"]
    assert sum(r["n_tokens"] for r in rows) == total
    by_id = sorted(rows, key=lambda r: r["seq_id"])
    assert [r["seq_id"] for r in by_id] == list(range(len(rows)))
    assert all(r["n_tokens"] == PACK_LEN for r in by_id[:-1])
    assert 0 < by_id[-1]["n_tokens"] <= PACK_LEN


def test_countmin_one_sided_error(spark):
    """CMS can only OVER-estimate: est >= exact for every probe."""
    from crypto_streaming_lakehouse_spark.registry import REGISTRY

    rows = REGISTRY["q_countmin_freq"].fn(spark, SF_DIR).collect()
    assert len(rows) > 0
    assert all(r["overestimate"] >= 0 for r in rows)
    assert all(r["cms_est"] >= r["exact_cnt"] for r in rows)


def test_triangle_invariants(spark):
    """Wedge/triangle consistency: every triangle closes 3 wedges."""
    from crypto_streaming_lakehouse_spark.registry import REGISTRY

    (row,) = REGISTRY["q_triangle_count"].fn(spark, SF_DIR).collect()
    assert row["n_wedges"] >= 3 * row["n_triangles"]
    if row["transitivity"] is not None:
        assert 0.0 <= row["transitivity"] <= 1.0


def test_weighted_sample_deterministic(spark):
    """md5-seeded exp-race keys: same sample on every run, k rows."""
    from crypto_streaming_lakehouse_spark.registry import REGISTRY
    from crypto_streaming_lakehouse_spark.registry_round3 import SAMPLE_K

    q = REGISTRY["q_weighted_sample"].fn
    a = [r["doc_id"] for r in q(spark, SF_DIR).collect()]
    b = [r["doc_id"] for r in q(spark, SF_DIR).collect()]
    assert a == b
    assert len(a) == SAMPLE_K


def test_gopher_quality_rules(spark, tmp_path):
    """Each Gopher rule must be able to fail independently, and the pass
    flag is their conjunction."""
    import os

    rows = [
        # passes: 60 alpha words incl. two stopwords, mean len in range
        (1, " ".join(["the", "a"] + ["word"] * 58)),
        # too short (10 words)
        (2, " ".join(["the", "a"] + ["word"] * 8)),
        # mean word length too high (long tokens)
        (3, " ".join(["the", "a"] + ["x" * 30] * 58)),
        # alpha fraction too low (numbered tokens)
        (4, " ".join(["the", "a"] + ["w0rd"] * 58)),
        # not enough stopword diversity
        (5, " ".join(["the"] + ["word"] * 59)),
    ]
    sf = str(tmp_path / "gq")
    os.makedirs(sf)
    spark.createDataFrame(
        [(i, t, "en", "synthetic", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(sf, "documents.parquet"))

    from crypto_streaming_lakehouse_spark.registry import REGISTRY

    got = {
        r.doc_id: r for r in REGISTRY["q_gopher_quality"].fn(spark, sf).collect()
    }
    assert got[1].passes is True
    assert got[2].passes is False and got[2].n_words == 10
    assert got[3].passes is False and got[3].mean_word_len > 10
    assert got[4].passes is False and got[4].alpha_frac < 0.8
    assert got[5].passes is False and got[5].stop_hits == 1


def test_top_bigram_fraction_tiebreak_and_coverage(spark, tmp_path):
    """Dominant-bigram fraction: count is positional (non-distinct), ties
    break lexicographically, and docs with < 2 words are excluded."""
    import os

    rows = [
        (1, "go go go go"),          # "go go" x3, chars 5*3/11
        (2, "b b a a b b"),          # "b b" x2 beats "a a"/"a b"/"b a" x1
        (3, "z z y y"),              # tie at 1 between "y y","z y","z z" -> "y y"
        (4, "solo"),                 # excluded (<2 words)
    ]
    sf = str(tmp_path / "tb")
    os.makedirs(sf)
    spark.createDataFrame(
        [(i, t, "en", "synthetic", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(sf, "documents.parquet"))

    from crypto_streaming_lakehouse_spark.registry import REGISTRY

    got = {
        r.doc_id: r
        for r in REGISTRY["q_top_bigram_fraction"].fn(spark, sf).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1].top_bigram == "go go" and got[1].cnt == 3
    assert abs(got[1].char_frac - 15 / 11) < 1e-6
    assert got[2].top_bigram == "b b" and got[2].cnt == 2
    assert got[3].top_bigram == "y y" and got[3].cnt == 1


def test_verdict_expressions_can_fail(spark):
    """The sketch-query verdicts are anchored booleans (Spark computes
    them; the oracle asserts a constant TRUE), so a bug in the Spark-side
    check expression would self-attest (ADVICE r04). Prove each verdict
    expression actually BITES by shrinking its tolerance to zero-width
    and asserting it flips to FALSE on the same data — a check that can
    never fail verifies nothing.
    """
    from pyspark.sql import functions as F

    # High-cardinality synthetic groups: at fixture scale the sketches
    # sit in their exact sparse/low-n regimes and every verdict passes
    # even at zero tolerance, which proves nothing. 400k distinct keys
    # per group puts HLL and GK firmly in their approximate regimes.
    ev = spark.range(2_000_000).select(
        (F.col("id") % 5).cast("string").alias("event_type"),
        F.col("id").alias("user_id"),
        (F.col("id") % 997).cast("double").alias("value"),
    )

    # q_approx_count_distinct verdict shape, tolerance 5% -> 0:
    # |approx/exact - 1| <= 0 can only hold if the HLL estimate is
    # bit-exact for EVERY group, which it is not at rsd=0.02.
    zero_tol = (
        ev.groupBy("event_type")
        .agg(
            (
                F.abs(
                    F.approx_count_distinct("user_id", 0.02)
                    / F.count_distinct("user_id")
                    - F.lit(1.0)
                )
                <= F.lit(0.0)
            ).alias("v")
        )
        .agg(F.min("v").alias("all_pass"))
        .first()
    )
    assert zero_tol["all_pass"] is False, (
        "approx_count_distinct verdict never fails even at zero "
        "tolerance — the check expression is vacuous"
    )

    # q_percentile_approx verdict shape, rank window eps 0.005 -> 0:
    # the window degenerates to the exact quantile point; GK at accuracy
    # 10000 does not hit it exactly for every group/quantile.
    approx = F.percentile_approx(
        "user_id", F.lit([0.5, 0.9, 0.99]), F.lit(10000)
    )
    exact = F.percentile("user_id", F.lit([0.5, 0.9, 0.99]))
    degenerate = (
        ev.groupBy("event_type")
        .agg(
            *[
                (
                    F.element_at(approx, i + 1) == F.element_at(exact, i + 1)
                ).alias(f"eq{i}")
                for i in range(3)
            ]
        )
        .agg(
            F.min(
                F.col("eq0") & F.col("eq1") & F.col("eq2")
            ).alias("all_exact")
        )
        .first()
    )
    assert degenerate["all_exact"] is False, (
        "percentile_approx verdict never fails even with a zero-width "
        "rank window — the check expression is vacuous"
    )

    # q_hll_sketch_union verdict shape, 5% -> 0: the unioned-sketch
    # estimate is not bit-equal to the exact distinct count.
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    est = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).first()["est"]
    exact_total = ev.agg(F.count_distinct("user_id")).first()[0]
    assert abs(est / exact_total - 1.0) > 0.0, (
        "HLL union estimate is bit-exact — zero-tolerance verdict "
        "cannot demonstrate the check bites"
    )
    assert abs(est / exact_total - 1.0) <= 0.05


def test_cosine_kernel_zero_norm_prune_matches_window(spark, monkeypatch):
    """ADVICE r14 flagged the kernel prune's NaN ordering as divergent
    from Spark's NaN-first DESC rule. Investigated: a kernel NaN never
    reaches the JVM as NaN — the Arrow boundary delivers pandas NaN as
    NULL, and the final window's DESC order puts NULLs LAST, exactly
    where np.lexsort puts NaN keys — so the prune and the window agree
    on all inputs. Pin that: with a zero-norm candidate and more
    candidates than k, the pruned kernel output equals the unpruned
    full-window ranking (NULL-cosine row excluded from the top-k by
    both), and kernel ≡ JVM on the nonzero-norm subset."""
    import crypto_streaming_lakehouse_spark.extensions.similarity as S

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 0.0]),  # zero norm -> NaN in-kernel -> NULL in Spark
        (2, [0.9, 0.1]),
        (3, [0.5, 0.5]),
        (4, [-1.0, 0.0]),
        (5, [0.1, 0.9]),
        (6, [0.8, 0.2]),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1)

    monkeypatch.setenv("SPARK_GRAFT_COSINE_KERNEL_MIN_PAIRS", "1")
    kern = sorted(
        (
            (r.q_id, r.vec_id, r.rank, r.cosine)
            for r in S.cosine_topk(
                emb, n_queries=1, k=3, n_corpus=len(rows)
            ).collect()
        ),
        key=lambda t: (t[0], t[2]),
    )
    # Unpruned reference (k = all candidates -> the per-partition prune
    # never fires), truncated to the top 3: what the window alone ranks.
    ref = sorted(
        (
            (r.q_id, r.vec_id, r.rank, r.cosine)
            for r in S.cosine_topk(
                emb, n_queries=1, k=len(rows) - 1, n_corpus=len(rows)
            ).collect()
            if r.rank <= 3
        ),
        key=lambda t: (t[0], t[2]),
    )
    assert kern == ref
    # The NULL-cosine row must NOT displace a real candidate: DESC
    # ranks NULLs last on both the prune and the window.
    assert [(t[1], t[2]) for t in kern] == [(2, 1), (6, 2), (3, 3)]

    # Nonzero-norm subset: kernel path and JVM window path agree
    # row-for-row.
    nz = [(i, v) for i, v in rows if any(v)]
    emb2 = spark.createDataFrame(
        nz, "vec_id long, embedding array<double>"
    ).coalesce(1)

    def run(min_pairs: str):
        monkeypatch.setenv("SPARK_GRAFT_COSINE_KERNEL_MIN_PAIRS", min_pairs)
        return sorted(
            (
                (r.q_id, r.vec_id, r.rank, r.cosine)
                for r in S.cosine_topk(
                    emb2, n_queries=1, k=3, n_corpus=len(nz)
                ).collect()
            ),
            key=lambda t: (t[0], t[2]),
        )

    assert run("1") == run("1000000000")
