"""Unit tests for the extension operators (dedup / similarity / text /
multimodal) on hand-built fixtures — semantics pinned independently of
the DuckDB oracle runs."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given
from hypothesis import settings as hyp_settings
from hypothesis import strategies as hyp_st
from pyspark.sql import functions as F

from evaluate_human_balance_with_spark_streaming_spark.functions.text import (
    fingerprint_md5,
    normalize_text,
    word_shingles,
)
from evaluate_human_balance_with_spark_streaming_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
)
from evaluate_human_balance_with_spark_streaming_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from evaluate_human_balance_with_spark_streaming_spark.operators.multimodal import (
    attach_binary_payload,
    decode_payload,
    extract_features,
    sample_frames,
)
from evaluate_human_balance_with_spark_streaming_spark.operators.similarity import (
    brute_force_topk,
)


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string, source string")


def test_normalize_and_fingerprint(spark):
    df = spark.createDataFrame(
        [("  Hello   WORLD ",), ("hello world",)], "t string"
    ).select(
        normalize_text(F.col("t")).alias("n"), fingerprint_md5(F.col("t")).alias("fp")
    )
    rows = df.collect()
    assert rows[0].n == "hello world" == rows[1].n
    assert rows[0].fp == rows[1].fp  # same fingerprint after normalization


def test_word_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([("one two",)], "t string").select(
        word_shingles(F.col("t"), 3).alias("s")
    )
    assert df.first().s == []


def test_word_shingles_values(spark):
    df = spark.createDataFrame([("a b c d",)], "t string").select(
        word_shingles(F.col("t"), 3).alias("s")
    )
    assert sorted(df.first().s) == ["a b c", "b c d"]


def test_dedup_exact_groups_whitespace_case_variants(spark):
    df = docs_df(
        spark,
        [
            (1, "The quick brown fox", "a"),
            (2, "the  quick   brown fox", "a"),
            (3, "something else", "b"),
        ],
    )
    out = {r.doc_id: r.n_copies for r in dedup_exact(df, "text", "doc_id").collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_lsh_finds_near_duplicate_pair(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words about structured streaming state stores"
    df = docs_df(spark, [(1, base, "a"), (2, near, "a"), (3, far, "a")])
    pairs = minhash_lsh_pairs(df, "text", "doc_id", 16, 4, 3, 0.5).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].jaccard > 0.5


def test_vertical_tab_whitespace_parity(spark):
    """Java regex \\s includes vertical tab \\x0B, RE2 (DuckDB) \\s
    does not — the shorthand silently diverged cross-engine on any
    document containing \\x0B (review finding; latent with current
    fixtures). Both sides now spell whitespace as explicit class
    constants (functions/text.py WS / SQL_WS); this pins that a
    \\x0B-containing document tokenizes identically in both engines."""
    import duckdb

    from evaluate_human_balance_with_spark_streaming_spark.functions.text import (
        SQL_WS,
        tokens as ws_tokens,
    )

    text = "a\x0Bb  c"
    n_spark = (
        spark.createDataFrame([(text,)], "text string")
        .select(F.size(ws_tokens(F.col("text"))).alias("n"))
        .collect()[0]
        .n
    )
    n_duck = duckdb.sql(
        "SELECT len(regexp_split_to_array(trim('a' || chr(11) || 'b  c'), "
        f"'{SQL_WS}+'))"
    ).fetchone()[0]
    assert n_spark == n_duck == 3


def test_edge_whitespace_emits_no_empty_tokens(spark):
    """trim()/F.trim strip ASCII spaces ONLY, so tab/newline-edged
    text used to split into ['', 'foo', 'bar'] — inflating n_tokens
    and feeding word_shingles degenerate ' foo'-style shingles
    (review finding, verified by execution). Both engines now ws-trim
    with the full class before splitting (functions/text.py ws_trim /
    SQL_WS_TRIM_TEXT); all-whitespace text still yields the [''] both
    engines produce for '' (the shape avg_word_len's no-zero-guard
    relies on)."""
    import duckdb

    from evaluate_human_balance_with_spark_streaming_spark.functions.text import (
        SQL_WS_TRIM_TEXT,
        tokens as ws_tokens,
        word_shingles,
    )

    rows = (
        spark.createDataFrame([("\tfoo bar\n",), ("\t \n",)], "text string")
        .select(
            ws_tokens(F.col("text")).alias("t"),
            word_shingles(F.col("text"), 2).alias("sh"),
        )
        .collect()
    )
    assert rows[0].t == ["foo", "bar"]
    assert rows[0].sh == ["foo bar"]  # no degenerate edge shingle
    assert rows[1].t == [""]  # all-ws == empty-text shape
    duck = duckdb.sql(
        f"SELECT regexp_split_to_array({SQL_WS_TRIM_TEXT}, '[ \t\n\r\f\\v]+') "
        "FROM (SELECT chr(9) || 'foo bar' || chr(10) AS text)"
    ).fetchone()[0]
    assert list(duck) == ["foo", "bar"]


def test_simhash_signatures_swar_guard_raises_on_oversized_doc(spark):
    """r17: the SWAR lane-packed aggregate (8 bigint sums of four
    15-bit lanes) is bit-identical to the 32-counter form ONLY while
    no per-doc bit count exceeds a lane — docs are capped at 32767
    tokens and a longer doc must fail LOUDLY (silently overflowing a
    lane would corrupt signatures, the worst failure mode). Bit
    identity itself is pinned by the shared-twin property fuzz
    (test_property_fuzz.py)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from evaluate_human_balance_with_spark_streaming_spark.operators.dedup import (
        simhash_signatures,
    )

    ok = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(64)))], "doc_id long, text string"
    )
    assert simhash_signatures(ok, "text", "doc_id").count() == 1
    big = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(32768)))], "doc_id long, text string"
    )
    with pytest.raises((PySparkException, Py4JJavaError)) as exc:
        simhash_signatures(big, "text", "doc_id").collect()
    assert "32767" in str(exc.value)


def test_simhash32_ignores_null_tokens(spark):
    """A null array element must be IGNORED, matching the batch twin's
    explode + aggregate path (SQL aggregates skip nulls) — the
    unfiltered fold null-poisoned every bit to hash 0, silently making
    any null-containing doc a 0-distance near-dup of every other
    (review finding, verified by execution)."""
    from evaluate_human_balance_with_spark_streaming_spark.functions.hashing import (
        simhash32,
    )

    r = (
        spark.range(1)
        .select(
            simhash32(
                F.array(F.lit("a"), F.lit(None).cast("string"), F.lit("b"))
            ).alias("h_null"),
            simhash32(F.array(F.lit("a"), F.lit("b"))).alias("h"),
        )
        .collect()[0]
    )
    assert r.h_null == r.h
    assert r.h != 0


def test_all_identical_corpus_collapses_to_one_cluster(spark):
    """The densest-bucket regime: EVERY doc byte-identical, so every
    LSH band bucket holds the whole corpus and the candidate path
    faces its maximal n(n-1)/2 fan-out (a web-crawl mirror storm — the
    ×10 stress approximates it with salted near-dups; this pins the
    exact-degenerate corner). The full pipeline must stay correct:
    all pairs survive verification at Jaccard 1.0, connected
    components collapses the clique to ONE cluster labeled by the min
    id, and exact dedup keeps exactly one survivor."""
    from evaluate_human_balance_with_spark_streaming_spark.operators.dedup import (
        connected_components,
        dedup_exact,
    )

    n = 40
    text = "the quick brown fox jumps over the lazy dog again and again"
    df = docs_df(spark, [(i, text, "a") for i in range(n)])
    pairs = minhash_lsh_pairs(df, "text", "doc_id", 16, 4, 3, 0.5)
    assert pairs.count() == n * (n - 1) // 2
    assert pairs.filter(F.col("jaccard") < 1.0).count() == 0
    clusters = connected_components(pairs).collect()
    assert len(clusters) == n
    assert {r.cluster_id for r in clusters} == {0}
    assert dedup_exact(df, "text", "doc_id").count() == 1


def test_ngram_jaccard_respects_blocking(spark):
    # Identical docs in DIFFERENT blocks must not pair.
    df = docs_df(spark, [(1, "x y z w", "a"), (2, "x y z w", "b")])
    assert ngram_jaccard_pairs(df, "text", "doc_id", "source", 2, 0.1).count() == 0


def test_ngram_jaccard_float_boundary(spark):
    """t=0.55, |A|=100 bigrams, B ⊂ A with |B|=55 → J = 0.55 exactly.
    IEEE doubles give 0.55*100 = 55.00000000000001: the un-slackened
    ceil shortened A's prefix to 45 (the 45 A-only shingles rank first
    under df-ascending order, so no SHARED shingle made A's prefix)
    and the size filter compared 55 >= 55.00000000000001 — both pruned
    the pair before verification ever saw it. The slackened bounds
    must keep it."""
    words = [f"w{i:03d}" for i in range(101)]
    df = docs_df(
        spark, [(0, " ".join(words), "b"), (1, " ".join(words[:56]), "b")]
    )
    pairs = ngram_jaccard_pairs(
        df, "text", "doc_id", "source", shingle_n=2, threshold=0.55
    ).collect()
    assert [(p.id_a, p.id_b, p.jaccard) for p in pairs] == [(0, 1, 0.55)]


def test_cosine_similarity_known_values(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 2.0], [2.0, 4.0])],
        "a array<double>, b array<double>",
    ).select(
        dot_product(F.col("a"), F.col("b")).alias("dp"),
        cosine_similarity(F.col("a"), F.col("b")).alias("cos"),
    )
    rows = df.collect()
    assert rows[0].dp == 0.0 and abs(rows[0].cos) < 1e-12
    assert abs(rows[1].cos - 1.0) < 1e-12


def test_brute_force_topk_excludes_self_and_ranks(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") == 1), "embedding", "vec_id", k=2)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert [r.neighbor_id for r in rows] == [2, 3]
    assert all(r.query_id == 1 for r in rows)


def test_multimodal_payload_roundtrip_and_features(spark):
    df = docs_df(spark, [(1, "abcd", "a")])
    mm = attach_binary_payload(df, "text", "doc_id")
    row = mm.first()
    assert bytes(row.payload) == b"abcd"
    assert row.meta.byte_len == 4

    feats = extract_features(mm).first()
    assert feats.byte_len == 4
    assert abs(feats.mean_byte - (sum(b"abcd") / 4)) < 1e-9


def test_multimodal_decode_stub_raises_for_real_media():
    with pytest.raises(NotImplementedError):
        decode_payload(b"\xff\xd8", "image/jpeg")


def test_ppm_decode_roundtrip_and_malformed():
    from evaluate_human_balance_with_spark_streaming_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    pixels = bytes(range(2 * 2 * 3))
    assert decode_ppm(encode_ppm(2, 2, pixels)) == pixels
    assert decode_payload(encode_ppm(1, 1, b"\x00\x01\x02"), "image/ppm") == (
        b"\x00\x01\x02"
    )
    # Header comments per the spec; pixel bytes may contain newlines.
    assert (
        decode_ppm(b"P6\n# a comment\n2 1\n255\n" + bytes([0, 10, 0, 10, 0, 10]))
        == bytes([0, 10, 0, 10, 0, 10])
    )
    for bad in (
        b"P3\n1 1\n255\nabc",  # ASCII PPM, not P6
        b"P6\n1 1\n65535\n\x00\x00\x00\x00\x00\x00",  # 16-bit maxval
        b"P6\n2 1\n255\n\x00",  # truncated pixel plane
        b"P6\n1 1\n",  # truncated header
        # Python int() liberality must not leak into the header
        # grammar: underscores and signs are digits-only violations.
        b"P6\n1_0 10\n255\n" + bytes(300),
        b"P6\n+1 1\n255\n\x00\x00\x00",
    ):
        with pytest.raises(ValueError):
            decode_ppm(bad)


def test_ppm_modality_through_arrow_feature_pass(spark):
    """The decode seam exercised END-TO-END for a non-'raw' modality:
    PPM payloads flow through the same mapInPandas pass as production
    (decode → features + stride resize), and every output is pinned
    against the features of the PIXEL PLANE (not the encoded payload) —
    proving the codec ran inside the Arrow batch, hash included."""
    import hashlib

    from evaluate_human_balance_with_spark_streaming_spark.operators.multimodal import (
        encode_ppm,
        featurize_payloads,
    )

    pix_small = bytes([7, 200, 13, 0, 255, 128])  # 2x1 image
    pix_big = bytes((i * 37) % 256 for i in range(10 * 5 * 3))  # 150 B
    rows = [(1, encode_ppm(2, 1, pix_small)), (2, encode_ppm(10, 5, pix_big))]
    mm = spark.createDataFrame(rows, "id bigint, payload binary").select(
        "id", F.lit("image/ppm").alias("modality"), "payload"
    )
    got = {r.id: r for r in featurize_payloads(mm, target_bytes=64).collect()}

    def expect(pix: bytes):
        stride = len(pix) / 64
        resized = (
            pix if len(pix) <= 64 else bytes(pix[int(i * stride)] for i in range(64))
        )
        return (
            len(pix),
            sum(pix) / len(pix),
            hashlib.md5(pix).hexdigest()[:8],
            len(resized),
            hashlib.md5(resized).hexdigest(),
        )

    for i, pix in ((1, pix_small), (2, pix_big)):
        e = expect(pix)
        r = got[i]
        assert (
            r.byte_len,
            r.mean_byte,
            r.feature_crc,
            r.out_len,
            r.resized_md5,
        ) == (e[0], pytest.approx(e[1]), e[2], e[3], e[4])


def test_frame_sampling_covers_payload(spark):
    text = "x" * 600  # 3 frames of 256
    df = docs_df(spark, [(1, text, "a")])
    frames = sample_frames(attach_binary_payload(df, "text", "doc_id")).collect()
    assert [f.frame_idx for f in frames] == [0, 1, 2]
    assert [f.frame_len for f in frames] == [256, 256, 88]


def test_csv_json_sources_roundtrip(spark, tmp_path):
    from pyspark.sql.types import StructType

    from evaluate_human_balance_with_spark_streaming_spark.sources.files import (
        read_csv,
        read_json,
    )

    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "id bigint, name string"
    )
    schema = StructType.fromDDL("id bigint, name string")
    csv_p, json_p = str(tmp_path / "c"), str(tmp_path / "j")
    df.write.option("header", "true").csv(csv_p)
    df.write.json(json_p)
    assert sorted(tuple(r) for r in read_csv(spark, csv_p, schema).collect()) == [
        (1, "alpha"),
        (2, "beta"),
    ]
    assert sorted(tuple(r) for r in read_json(spark, json_p, schema).collect()) == [
        (1, "alpha"),
        (2, "beta"),
    ]


@given(
    records=hyp_st.lists(
        hyp_st.tuples(
            hyp_st.text(
                alphabet=hyp_st.characters(min_codepoint=32, max_codepoint=0x2FF),
                min_size=0,
                max_size=40,
            ),
            hyp_st.from_regex(
                r"[A-Za-z0-9._%+-]{1,20}@[A-Za-z0-9.-]{1,20}", fullmatch=True
            ),
            hyp_st.integers(min_value=1900, max_value=2025),
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[1],
    )
)
@hyp_settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_encode_decode_property_many_random_customers(spark, records):
    """Property-style roundtrip: for ANY customer record whose email and
    birthDay are present, encode→decode must return (email, birthYear)
    exactly. Proper @given batching (one DataFrame pass per example) —
    seeded, shrinkable, reproducible; unique emails so the expected set
    comparison is exact."""
    from evaluate_human_balance_with_spark_streaming_spark.plans import stedi

    rows = [
        (name, email, "555", f"{year:04d}-06-15")
        for name, email, year in records
    ]
    plain = spark.createDataFrame(
        rows, "customerName string, email string, phone string, birthDay string"
    )
    wire = stedi.encode_customer_envelope(plain)
    got = {
        (r.email, r.birthYear)
        for r in stedi.customer_pipeline(wire).collect()
    }
    expect = {(e, b.split("-")[0]) for _, e, _, b in rows}
    assert got == expect


def test_resize_payload_deterministic_stride(spark):
    from evaluate_human_balance_with_spark_streaming_spark.operators.multimodal import (
        attach_binary_payload,
        resize_payload,
    )

    df = docs_df(spark, [(1, "0123456789" * 13, "a")])  # 130 bytes
    out = resize_payload(attach_binary_payload(df, "text", "doc_id"), 64).first()
    assert out.out_len == 64
    raw = ("0123456789" * 13).encode()
    stride = len(raw) / 64
    assert bytes(out.resized) == bytes(raw[int(i * stride)] for i in range(64))

    short = docs_df(spark, [(2, "tiny", "a")])
    out2 = resize_payload(attach_binary_payload(short, "text", "doc_id"), 64).first()
    assert bytes(out2.resized) == b"tiny"  # under budget passes through


def test_kafka_binding_options():
    from evaluate_human_balance_with_spark_streaming_spark.sources.kafka import (
        kafka_sink_options,
    )

    opts = kafka_sink_options("stedi-risk", "kafka:19092")
    assert opts == {
        "kafka.bootstrap.servers": "kafka:19092",
        "topic": "stedi-risk",
    }


def test_job_entrypoints_importable_and_wired():
    """The five jobs/ scripts (drop-in replacements for the reference's
    three spark-submit launchers + its two empty stubs) parse and wire
    real pipeline functions. They need a Kafka broker to RUN, so this
    pins the surface without one."""
    import ast
    from pathlib import Path

    jobs = sorted((Path(__file__).resolve().parent.parent / "jobs").glob("*.py"))
    assert [j.name for j in jobs] == [
        "events_stream_to_console.py",
        "kafka_join.py",
        "optional_risk_calculation.py",
        "optional_risk_quality.py",
        "redis_stream_to_console.py",
    ]
    for j in jobs:
        tree = ast.parse(j.read_text())
        funcs = {n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)}
        assert "main" in funcs, j
        if j.name == "kafka_join.py":
            # One stateful query: a second sink over the same join would
            # keep a second copy of its unbounded state.
            starts = [
                n for n in ast.walk(tree)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Name)
                and n.func.id == "start_query"
            ]
            assert len(starts) == 1, j


def test_sketch_aggregates_within_error_bounds(spark, sf_dir):
    """The 100 TB substitutes for exact distinct/percentile: HLL and
    t-digest sketches land within their documented error envelopes
    (these can never hash-match a different engine, hence unit-tested
    here rather than oracle-checked)."""
    from evaluate_human_balance_with_spark_streaming_spark.sources.testdata import (
        load_table,
    )

    e = load_table(spark, sf_dir, "events")
    exact_users = e.select("user_id").distinct().count()
    approx_users = e.agg(
        F.approx_count_distinct("user_id", rsd=0.05).alias("a")
    ).first().a
    assert abs(approx_users - exact_users) / exact_users < 0.15

    exact_p50 = e.agg(F.expr("percentile(value, 0.5)").alias("p")).first().p
    approx_p50 = e.agg(
        F.percentile_approx("value", 0.5, 10000).alias("p")
    ).first().p
    assert abs(approx_p50 - exact_p50) <= max(0.05 * abs(exact_p50), 1.0)


def test_ivf_nprobe_recall_monotone_and_exhaustive_equals_bruteforce(spark, sf_dir):
    """IVF recall properties: probing more cells can only add candidate
    pairs (recall vs brute force is monotone in n_probe), and probing
    EVERY cell makes IVF exactly brute force (same scoring, rounding,
    tiebreaks) — the candidate generation loses nothing but cell
    locality."""
    from pyspark.sql import functions as F

    from evaluate_human_balance_with_spark_streaming_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from evaluate_human_balance_with_spark_streaming_spark.sources.testdata import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 101 == 0)
    n_cells = emb.select("label").distinct().count()

    def pairs(df):
        return {
            (r.query_id, r.neighbor_id, r.cosine, r.rank) for r in df.collect()
        }

    bf = pairs(brute_force_topk(emb, queries, "embedding", "vec_id", k=3))
    ivf1 = pairs(
        ivf_topk(
            emb, queries, "embedding", "vec_id", "label",
            k=3, n_probe=1,
        ).drop("cell")
    )
    ivf2 = pairs(
        ivf_topk(
            emb, queries, "embedding", "vec_id", "label",
            k=3, n_probe=2,
        ).drop("cell")
    )
    ivf_all = pairs(
        ivf_topk(
            emb, queries, "embedding", "vec_id", "label",
            k=3, n_probe=n_cells,
        ).drop("cell")
    )
    assert len(ivf1 & bf) <= len(ivf2 & bf)
    assert ivf_all == bf


def test_rollup_derived_from_cube_matches_native_on_null_and_sentinel_values(spark):
    """q_grouping_sets_sales derives its rollup branch from the cube
    output via grouping() indicators. Pin that derivation against a
    NATIVE rollup on data containing the two values a label-based
    derivation (coalesce to 'ALL') would misfile: NULL and the literal
    string 'ALL'."""
    rows = [
        ("A", "X", 1.0),
        ("A", None, 2.0),
        (None, "X", 4.0),
        ("ALL", "Y", 8.0),
        (None, None, 16.0),
    ]
    df = spark.createDataFrame(rows, "a string, b string, v double")

    def norm(frame):
        return {
            (r.a, r.b, r.n, r.s)
            for r in frame.select(
                F.coalesce("a", F.lit("ALL")).alias("a"),
                F.coalesce("b", F.lit("ALL")).alias("b"),
                F.col("n"),
                F.col("s"),
            ).collect()
        }

    native_rollup = df.rollup("a", "b").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )

    cube = df.cube("a", "b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.grouping("a").alias("g_a"),
        F.grouping("b").alias("g_b"),
    )
    derived_rollup = cube.filter(
        ~((F.col("g_a") == 1) & (F.col("g_b") == 0))
    ).select("a", "b", "n", "s")

    # Native rollup on this data: ("A", NULL-value) and ("A", NULL-set)
    # are DISTINCT rows that both normalize to ('A','ALL') — compare as
    # multisets of normalized tuples via sorted lists.
    native = sorted(norm(native_rollup))
    derived = sorted(norm(derived_rollup))
    assert native == derived

    # The label-based classification this replaced would have dropped
    # the (NULL, 'X') detail row from the derived rollup; assert it is
    # present with its true aggregate.
    assert ("ALL", "X", 1, 4.0) in set(derived)


def test_frame_sampling_empty_payload_yields_zero_frames(spark):
    """sequence(0, n_frames-1) with n_frames=0 would infer a NEGATIVE
    step and explode [0, -1] — two spurious frames of md5(''). Pin the
    guard: an empty payload contributes no frames at all."""
    df = docs_df(spark, [(1, "", "a"), (2, "x" * 10, "a")])
    frames = sample_frames(attach_binary_payload(df, "text", "doc_id")).collect()
    assert [(f.id, f.frame_idx, f.frame_len) for f in frames] == [(2, 0, 10)]


def test_text_stats_null_text_propagates_null(spark):
    """with_text_stats must propagate NULL for NULL text the way the
    SQL oracle does (plain division), not coerce to 0.0."""
    from evaluate_human_balance_with_spark_streaming_spark.operators.text_queries import (
        with_text_stats,
    )

    df = spark.createDataFrame(
        [(1, None, "a"), (2, "two words", "a")],
        "doc_id bigint, text string, source string",
    )
    rows = {r.doc_id: r for r in with_text_stats(df, "text").collect()}
    assert rows[1].avg_word_len is None
    assert rows[1].n_tokens is None
    assert rows[2].avg_word_len == 4.0  # 8 non-space chars / 2 tokens
    assert rows[2].n_tokens == 2


def test_connected_components_raises_when_budget_too_small(spark):
    """A label chain longer than max_iterations must FAIL, not return
    a silently split component."""
    from evaluate_human_balance_with_spark_streaming_spark.operators.dedup import (
        connected_components,
    )

    chain = [(i, i + 1) for i in range(1, 8)]  # path graph, diameter 7
    pairs = spark.createDataFrame(chain, "id_a bigint, id_b bigint")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iterations=2)
    labels = connected_components(pairs, max_iterations=10)
    assert {r.cluster_id for r in labels.collect()} == {1}


def test_connected_components_leaves_session_conf_alone(spark):
    """The contraction rounds size their materialized block count via
    .repartition on the loop frames ONLY (VERDICT r04 item 2; join
    reducer widths are the session width + AQE — see the width-reality
    note in dedup.py): the session-global spark.sql.shuffle.partitions
    must be byte-identical before, during and after — the old global
    pin would silently plan any concurrently built query at width 4.
    The during-call probe rides a plan built lazily here and evaluated
    mid-loop via the convergence count's scheduler barrier being
    absent — so assert around the call and on a mid-build read
    instead."""
    from evaluate_human_balance_with_spark_streaming_spark.operators.dedup import (
        connected_components,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a bigint, id_b bigint"
    )
    labels = connected_components(pairs, max_iterations=10)
    # The loop has fully run (localCheckpoint rounds are eager) by the
    # time the function returns — no restore-in-finally can fake this.
    assert spark.conf.get(key) == before
    got = {(r.node, r.cluster_id) for r in labels.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}
    assert spark.conf.get(key) == before


def test_operator_parameter_guards_raise_instead_of_degenerating(spark):
    """Parameter combinations that would silently produce wrong or
    degenerate plans must raise: a non-positive CC iteration budget
    would return singleton labels without converging, and bands not
    dividing num_hashes would either drop signature hashes (lower
    recall) or hash an empty slice (every doc in one bucket -> the
    'bounded' candidate join degenerates to all-pairs n^2)."""
    from evaluate_human_balance_with_spark_streaming_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    pairs = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    with pytest.raises(ValueError, match="max_iterations"):
        connected_components(pairs, max_iterations=0)
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="bands"):
        minhash_lsh_pairs(docs, "text", "doc_id", num_hashes=16, bands=32)
    with pytest.raises(ValueError, match="bands"):
        minhash_lsh_pairs(docs, "text", "doc_id", num_hashes=16, bands=3)
    # Same class for simhash: bands > 32 makes bits_per_band 0, so
    # every band key is (b, 0) and the banded join degenerates to
    # `bands` copies of the all-pairs self-join; a non-divisor of 32
    # silently drops the top bits from every band key.
    from evaluate_human_balance_with_spark_streaming_spark.operators.dedup import (
        simhash_pairs,
    )

    with pytest.raises(ValueError, match="bands"):
        simhash_pairs(docs, "text", "doc_id", max_hamming=3, bands=33)
    with pytest.raises(ValueError, match="bands"):
        simhash_pairs(docs, "text", "doc_id", max_hamming=0, bands=0)
    with pytest.raises(ValueError, match="bands"):
        simhash_pairs(docs, "text", "doc_id", max_hamming=2, bands=5)


def test_session_window_boundary_semantics(spark):
    """An event arriving EXACTLY gap seconds after the previous one
    MERGES into the session (Spark session_window treats the touching
    [t, t+gap) window as the same session); one second later it
    splits. The session oracles' LAG-based derivation therefore uses
    strict > — a >= comparator would split exact-boundary sessions
    the engine merges (latent until a fixture contains an exact-gap
    pair; verified empirically on Spark 4.1.2)."""
    from datetime import datetime

    df = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 0, 0)),
            (1, datetime(2024, 1, 1, 1, 0, 0)),   # exactly 3600s later
            (2, datetime(2024, 1, 1, 0, 0, 0)),
            (2, datetime(2024, 1, 1, 1, 0, 1)),   # 3601s later
        ],
        "user_id long, ts timestamp",
    )
    out = {
        (r.user_id, str(r.start)): r.n
        for r in df.groupBy(F.session_window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", "w.start", "n")
        .collect()
    }
    assert out == {
        (1, "2024-01-01 00:00:00"): 2,   # exact-gap pair merged
        (2, "2024-01-01 00:00:00"): 1,   # 1s past the gap: split
        (2, "2024-01-01 01:00:01"): 1,
    }


def test_multimodal_null_payload_propagates_not_crashes(spark):
    """A NULL payload/modality row (e.g. a NULL-text document through
    attach_binary_payload) must propagate SQL-style nulls through every
    Arrow pass — bytes(None) previously raised TypeError inside the
    worker and killed the whole job."""
    from evaluate_human_balance_with_spark_streaming_spark.operators.multimodal import (
        extract_features,
        featurize_payloads,
        resize_payload,
    )

    mm = spark.createDataFrame(
        [(1, "raw", b"abc"), (2, "raw", None), (3, None, b"abc")],
        "id bigint, modality string, payload binary",
    )
    feats = {r.id: r for r in extract_features(mm).collect()}
    assert feats[1].byte_len == 3 and feats[1].feature_crc is not None
    assert feats[2].byte_len is None and feats[2].feature_crc is None
    assert feats[3].mean_byte is None
    fused = {r.id: r for r in featurize_payloads(mm).collect()}
    assert fused[1].resized_md5 is not None
    assert fused[2].resized_md5 is None and fused[2].out_len is None
    resized = {r.id: r for r in resize_payload(mm).collect()}
    assert resized[1].out_len == 3
    assert resized[2].resized is None and resized[2].out_len is None


def test_decode_ppm_comment_adjacent_to_token(spark):
    """netpbm grammar: a comment may start immediately after a header
    token ('640#cols\\n480') — the '#' delimits the token. And a
    comment swallowing the raster delimiter after maxval must reject
    loudly, never read comment text as pixels."""
    import pytest as _pytest

    from evaluate_human_balance_with_spark_streaming_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    pixels = bytes(range(12))  # 2x2 RGB
    ok = b"P6\n2# cols comment\n2\n255\n" + pixels
    assert decode_ppm(ok) == pixels
    assert decode_ppm(encode_ppm(2, 2, pixels)) == pixels
    with _pytest.raises(ValueError, match="raster delimiter"):
        decode_ppm(b"P6\n2 2\n255# no delimiter\n" + pixels)


def test_user_similarity_day_top_dial(spark):
    """day_top is the documented recall dial on the user-similarity
    pair join (VERDICT r04 item 5): C >= the busiest day's active
    users reproduces the exact query EXACTLY; a smaller C drops pair
    contributions from days where a participant ranks below C (dot
    truncated, norms stay exact → cosine underestimates), and pairs
    co-active only on clipped days disappear; a non-positive C
    raises."""
    from datetime import datetime

    import math

    from evaluate_human_balance_with_spark_streaming_spark.plans.analytics_ext import (
        user_activity_similarity,
    )

    # day1 actives: u1 (5 events) > u2 (3) > u3 (1); day2: u3 (2) > u1 (1).
    rows = []
    for u, d, n in [(1, 1, 5), (2, 1, 3), (3, 1, 1), (1, 2, 1), (3, 2, 2)]:
        rows += [(u, datetime(2024, 3, d, 9, 0, 0))] * n
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")

    exact = {(r.user_a, r.user_b): r.cosine
             for r in user_activity_similarity(df).collect()}
    n1, n2, n3 = math.sqrt(26), 3.0, math.sqrt(5)
    assert set(exact) == {(1, 2), (1, 3), (2, 3)}
    assert exact[(1, 2)] == pytest.approx(15 / (n1 * n2), abs=1e-6)
    assert exact[(1, 3)] == pytest.approx(7 / (n1 * n3), abs=1e-6)
    assert exact[(2, 3)] == pytest.approx(3 / (n2 * n3), abs=1e-6)

    # C at/above the busiest day's cardinality → byte-identical rows,
    # and the recall guard stays SILENT (nothing was pruned) — as does
    # the exact day_top=None path (VERDICT r06 item 5).
    import warnings as _warnings

    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        wide = {(r.user_a, r.user_b): r.cosine
                for r in user_activity_similarity(df, day_top=3).collect()}
        user_activity_similarity(df)
    assert wide == exact

    # C=2 clips day1 to {u1, u2} and day2 stays whole: (2,3) vanishes
    # (their only co-active day dropped u3), (1,3) keeps only the day2
    # contribution over EXACT norms, (1,2) is untouched. Pruning is
    # active → the margin-dependent-recall warning must fire (the
    # measured curve shows a caller can otherwise get ~0.08 recall
    # silently believing they bought ~0.9).
    with pytest.warns(UserWarning, match="busiest day"):
        capped_df = user_activity_similarity(df, day_top=2)
    capped = {(r.user_a, r.user_b): r.cosine
              for r in capped_df.collect()}
    assert set(capped) == {(1, 2), (1, 3)}
    assert capped[(1, 2)] == exact[(1, 2)]
    assert capped[(1, 3)] == pytest.approx(2 / (n1 * n3), abs=1e-6)

    with pytest.raises(ValueError, match="day_top"):
        user_activity_similarity(df, day_top=0)


def test_cc_width_scales_with_edges():
    """The contraction loop's per-round shuffle width tracks the
    measured edge count (~64k rows per task), floored at 1 (a tiny
    bench graph must not pay 32 task launches per stage) and capped at
    the session width (a stress-scale first round must not be
    throttled to the tiny-graph width)."""
    from evaluate_human_balance_with_spark_streaming_spark.operators.dedup import (
        _cc_width,
    )

    assert _cc_width(0, 32) == 1
    assert _cc_width(512, 32) == 1
    assert _cc_width(500_000, 32) == 8
    assert _cc_width(10**9, 32) == 32
    assert _cc_width(10**9, 8) == 8


def test_release_managed_since_is_scoped(spark):
    """ADVICE r06: the streaming calibration probe (and any other
    mid-flight caller) must be able to free ITS OWN managed resources
    without sweeping a caller's built-but-unevaluated persist barriers
    process-wide. release_managed_since(mark) releases exactly the
    entries registered after the mark; the untouched remainder still
    belongs to the owner's own release_managed sweep."""
    from evaluate_human_balance_with_spark_streaming_spark import caching

    # Start from a clean registry so counts are deterministic.
    caching.release_managed()
    # Structurally distinct plans: Spark's CacheManager keys on the
    # CANONICALIZED plan (column aliases normalized away), so two
    # persists of range(10) under different names would share one
    # cache entry and the scoped release would drop both.
    outer = caching.managed_persist(spark.range(10).toDF("a"))
    fired: list[str] = []
    caching.on_release(lambda: fired.append("outer"))
    mark = caching.managed_mark()
    inner = caching.managed_persist(spark.range(20).toDF("b"))
    caching.on_release(lambda: fired.append("inner"))
    outer.count(), inner.count()

    n = caching.release_managed_since(mark)
    assert n == 1
    assert fired == ["inner"]  # outer's callback untouched
    assert inner.storageLevel.useMemory is False  # released
    assert outer.storageLevel.useMemory is True  # still persisted

    # The owner's own sweep still frees the rest.
    assert caching.release_managed() == 1
    assert fired == ["inner", "outer"]
    assert outer.storageLevel.useMemory is False


def test_release_managed_since_stale_mark_degrades_safely(spark):
    """ADVICE r07: a length-based mark assumed strict LIFO discipline —
    a full release_managed between mark and scoped release made the
    mark stale, and the scoped caller's own entries silently escaped
    release (leaked memory-sink views / checkpoint dirs). With the
    identity snapshot, a stale mark degrades safely: exactly the
    entries not in the snapshot are released, wherever they sit."""
    from evaluate_human_balance_with_spark_streaming_spark import caching

    caching.release_managed()
    outer = caching.managed_persist(spark.range(30).toDF("c"))
    mark = caching.managed_mark()
    # Another code path sweeps EVERYTHING below the mark — the exact
    # interleaving the length-based mark could not survive.
    caching.release_managed()
    assert outer.storageLevel.useMemory is False
    fired: list[str] = []
    inner = caching.managed_persist(spark.range(40).toDF("d"))
    caching.on_release(lambda: fired.append("inner"))
    inner.count()

    # Length-based: len(_MANAGED)==1 == stale mark's 1 -> inner leaks.
    # Identity-based: inner is not in the snapshot -> released.
    n = caching.release_managed_since(mark)
    assert n == 1
    assert fired == ["inner"]
    assert inner.storageLevel.useMemory is False
    assert caching.release_managed() == 0  # registry actually empty


def test_release_managed_since_interrupt_never_untracks():
    """Review finding: a BaseException (Ctrl-C in a blocked py4j call)
    escaping mid-release must not drop entries from the registries —
    the release-then-filter ordering leaves everything tracked, so the
    later release_managed() sweep can still free what the interrupted
    call could not. Spark-free: the registry only needs .unpersist."""
    import pytest as _pytest

    from evaluate_human_balance_with_spark_streaming_spark import caching

    class _Boom:
        def unpersist(self, blocking=False):
            raise KeyboardInterrupt

    class _Ok:
        def unpersist(self, blocking=False):
            pass

    caching._MANAGED.clear()
    caching._CALLBACKS.clear()
    keeper = _Ok()
    caching._MANAGED.append(keeper)
    mark = caching.managed_mark()
    boom = _Boom()
    caching._MANAGED.append(boom)
    try:
        with _pytest.raises(KeyboardInterrupt):
            caching.release_managed_since(mark)
        # The interrupt escaped before the registry filter ran: BOTH
        # entries are still tracked (pre-mark keeper AND the entry
        # whose release blew up) — nothing leaked out of the sweep's
        # reach. (The except-Exception guard deliberately does not
        # swallow BaseException: a Ctrl-C must still interrupt.)
        assert caching._MANAGED == [keeper, boom]
    finally:
        caching._MANAGED.clear()
