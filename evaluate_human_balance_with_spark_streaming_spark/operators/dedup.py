"""Deduplication operators: exact, fingerprint, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Scale design. Exact/fingerprint dedup is a hash aggregate (map-side
partial combine, one shuffle on the hash — never on the full text).
Near-dup never does an all-pairs join: candidates come from LSH band
buckets (MinHash) or blocking keys, so the join fans out only within
buckets; at 100 TB the band-bucket join is a standard shuffle join on
short hash keys, salt-able if a bucket is hot. Verification (exact
Jaccard) runs only on candidate pairs.

Every operator is deterministic (seeded md5 permutations — see
functions/hashing.py), which is what lets the DuckDB oracles replay the
*entire* pipeline, LSH candidate generation included.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import managed_persist
from ..functions.hashing import band_key, hex_digit_value, md5_seeded_int
from ..functions.text import (
    SQL_WS,
    SQL_WS_TRIM_TEXT,
    fingerprint_md5,
    tokens,
    word_shingles,
)
from ..plans.partitioning import ensure_min_partitions
from ..plans.registry import register
from ..sources.testdata import load_table

# ---------------------------------------------------------------------------
# Generic operators (DataFrame API)
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on normalized text: keep the smallest id per group.

    Aggregates on the md5 of the normalized text, not the text itself,
    so the shuffle moves 16-byte keys instead of documents.
    """
    return (
        df.select(
            F.col(id_col), fingerprint_md5(F.col(text_col)).alias("fp")
        )
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def with_shingles(
    df: DataFrame,
    text_col: str,
    shingle_n: int = 3,
    keep: tuple[str, ...] | None = None,
) -> DataFrame:
    """Append a ``_shingles`` array column, dropping docs with none
    (no similarity signal). Persisted: the shingle table feeds both
    signature generation and pair verification, and CollapseProject
    would otherwise inline the shingling expression into every
    consumer (measured 21× slower in round 1) — persist() is the hard
    barrier; at 100 TB the equivalent is a materialized shingle table.
    ``keep`` projects the persisted table to the named columns plus
    ``_shingles`` — the slim-table discipline every other persist site
    in this module follows (review finding: the unprojected form
    cached a redundant copy of the document text that no downstream
    consumer reads); None keeps every input column for callers that
    need the full rows. A one-file scan is spread first so the hash
    sweep parallelizes.

    The no-signal filter runs on the CHEAP equivalent predicate
    ``size(tokens) >= n`` instead of ``size(_shingles) > 0`` (r16,
    guide §4.4's duplicated-evaluation pattern): pushdown inlined the
    whole interpreted zip_with shingle build into the Filter condition
    below the projection, so every row paid the shingle assembly twice
    (plans/r16/dedup_minhash_lsh_before.txt node (6)). Equivalence is
    exact: word_shingles null-marks the k-shifted tails, so the
    distinct array is non-empty iff the token array has >= n entries
    (an n-gram exists iff there are n words)."""
    df = ensure_min_partitions(df)
    out = df.filter(F.size(tokens(F.col(text_col))) >= shingle_n).withColumn(
        "_shingles", word_shingles(F.col(text_col), shingle_n)
    )
    if keep is not None:
        out = out.select(*keep, "_shingles")
    return managed_persist(out)


def _verify_jaccard(
    cand: DataFrame, shingle_tbl: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of (id_a, id_b) candidate pairs
    against a slim (id, sh: array<string>) shingle table — the ONE
    shared gate behind both candidate generators (MinHash banding and
    the prefix-filtered set-similarity join), so the rounding/threshold
    discipline cannot drift between them. Keeps pairs with
    round(J, 6) >= threshold; candidates only ever join slim rows."""
    pairs = cand.join(
        shingle_tbl.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")),
        "id_a",
    ).join(
        shingle_tbl.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")),
        "id_b",
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    shingled: DataFrame, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """Slim (id, mh0..mh{k-1}) MinHash signature table.

    Plan shape: explode shingles → k codegen'd seeded-md5 projections →
    k NUMERIC min-aggregates grouped by id. Two deliberate choices vs
    the naive form, both measured:

    - explode + aggregate instead of higher-order
      array_min(transform(...)) — Spark interprets lambda functions
      (no codegen); ~20% faster at sf0.1, widening with doc length;
    - 60-bit integer hash components (md5_seeded_int) instead of hex
      strings — numeric minima aggregate in a HashAggregate
      (fixed-width buffer); string minima force SortAggregate with a
      per-partition sort (1.65s → 0.58s at sf0.1).

    The groupBy is map-side partial: every doc's shingles sit in one
    partition post-explode, so the exchange moves only the finished
    16-hash signature rows — at 100 TB the shuffle volume is the
    signature table, not the corpus.
    """
    ex = shingled.select(F.col(id_col), F.explode("_shingles").alias("s"))
    aggs = [
        F.min(md5_seeded_int(F.col("s"), i)).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return ex.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding + exact verify.

    1. signature: k seeded-md5 min-hashes per doc (explode + map-side
       min aggregate — the exchange moves only slim signature rows);
    2. banding: k/bands hashes per band → band key; explode to
       (band_idx, band_key) — docs sharing any band key are candidates;
    3. candidate join *within band buckets only*;
    4. verify: exact Jaccard on distinct word shingles ≥ threshold.

    Returns (id_a, id_b, jaccard) with id_a < id_b, distinct.
    """
    if bands < 1 or num_hashes % bands != 0:
        # bands > num_hashes would give every doc the same empty-slice
        # band key (the bounded candidate join degenerates to all-pairs
        # n^2); a non-divisor silently drops the trailing hashes below
        # the configured signature width.
        raise ValueError(
            f"bands must divide num_hashes exactly, got num_hashes="
            f"{num_hashes}, bands={bands}"
        )
    rows_per_band = num_hashes // bands
    base = with_shingles(df, text_col, shingle_n, keep=(id_col,))
    # Persisted slim signature table: consumed by both sides of the
    # band self-join (recomputing the signature per consumer measured
    # 3-4× the whole pipeline in round 1); released by the query
    # wrapper after evaluation (caching.py).
    sig = managed_persist(minhash_signatures(base, id_col, num_hashes))
    sig_cols = [F.col(f"mh{i}") for i in range(num_hashes)]
    # Candidate generation on SLIM rows only — (id, band, bkey), no
    # document payload. The band self-join shuffles 3 short columns;
    # shingle arrays would otherwise be copied bands× through the
    # explode and again through both join sides (measured 42s → 9s at
    # sf0.1 for moving the arrays out of this join).
    banded = sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_key(sig_cols, b, rows_per_band).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bkey")

    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bkey"])
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # Verify: join the shingle sets back in for candidate pairs only.
    return _verify_jaccard(
        cand,
        base.select(F.col(id_col), F.col("_shingles").alias("sh")),
        id_col,
        jaccard_threshold,
    )


def ngram_prefix_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    shingle_n: int = 2,
    threshold: float = 0.3,
) -> tuple[DataFrame, DataFrame]:
    """Candidate-generation half of ``ngram_jaccard_pairs`` — returns
    ``(cand, sized)``: the deduplicated (id_a, id_b) candidate pairs
    from the prefix-filtered equi-join, plus the persisted slim
    shingle table the verifier reads. Split out (r06) so the stress
    decomposition (scripts/stress_ngram_decompose.py, SCALING.md) can
    time candidate generation and verification separately without
    duplicating the pipeline; ``ngram_jaccard_pairs`` below is the
    single public composition. Semantics and the losslessness argument
    are documented there."""
    from pyspark.sql.window import Window

    if threshold <= 0:
        raise ValueError("threshold must be > 0 (zero-overlap pairs are pruned)")
    # Persist the slim shingle-set table: the prefix build and the
    # pair verification both derive from it. The no-signal filter runs
    # on the cheap equivalent token-count predicate BEFORE the shingle
    # projection (same duplicated-evaluation fix as with_shingles —
    # pushdown otherwise inlines the zip_with build into the Filter).
    sized = managed_persist(
        df.filter(F.size(tokens(F.col(text_col))) >= shingle_n)
        .select(
            F.col(id_col),
            F.col(block_col).alias("blk"),
            word_shingles(F.col(text_col), shingle_n).alias("sh"),
        )
        .select(F.col(id_col), "blk", F.size("sh").alias("sz"), "sh")
    )
    ex = sized.select(F.col(id_col), "blk", "sz", F.explode("sh").alias("s"))
    # Global canonical order = (per-block df, shingle) ascending:
    # rarest first, total (shingles are distinct per block row), so
    # every doc ranks its shingles identically — the property the
    # prefix lemma needs. One shuffle on (blk, s) for the df counts,
    # one on id for the per-doc ranking; both linear in corpus tokens.
    freq = ex.groupBy("blk", "s").agg(F.count(F.lit(1)).alias("df"))
    rn = F.row_number().over(
        Window.partitionBy(id_col).orderBy("df", "s")
    )
    t_eff = threshold - 1e-6  # pruning slack; see ngram_jaccard_pairs
    prefix_len = (
        F.col("sz") - F.ceil(F.lit(t_eff) * F.col("sz") - F.lit(1e-9)) + 1
    )
    # Deliberately NOT persisted although both sides of the candidate
    # self-join consume it: the two sides are alias-identical plans, so
    # ReuseExchange dedupes their shuffles at the physical layer and
    # the prefix pipeline executes once either way — unlike `sig` in
    # minhash_lsh_pairs, whose two consumers (banding explode vs
    # verify) are NOT canonically identical subtrees. Measured at the
    # ×10 dup-stress (same box, back-to-back): persist 124.2 s vs
    # reuse-exchange 101.6 s — the cache only added ~5M-row
    # materialization cost on the operator's hot path.
    pref = (
        ex.join(freq, ["blk", "s"])
        .withColumn("rn", rn)
        .filter(F.col("rn") <= prefix_len)
        .select(F.col(id_col), "blk", "sz", "s")
    )
    a = pref.select(
        F.col(id_col).alias("id_a"), "blk", F.col("sz").alias("sa"), "s"
    )
    b = pref.select(
        F.col(id_col).alias("id_b"), "blk", F.col("sz").alias("sb"), "s"
    )
    cand = (
        a.join(b, ["blk", "s"])
        .filter(F.col("id_a") < F.col("id_b"))
        # Size filter: J ≥ t forces t·|A| ≤ |B| and t·|B| ≤ |A| —
        # applied at the slackened bound so a float-rounded product
        # never prunes a pair the verifier would accept.
        .filter(
            (F.col("sb") >= t_eff * F.col("sa") - 1e-9)
            & (F.col("sa") >= t_eff * F.col("sb") - 1e-9)
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand, sized


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    shingle_n: int = 2,
    threshold: float = 0.3,
) -> DataFrame:
    """Blocked exact n-gram Jaccard via a PREFIX-FILTERED
    set-similarity join (the standard refinement: Chaudhuri et al.'s
    SSJoin prefix filter / ppjoin).

    Candidate pairs come from an equi-join on (block, shingle), but
    each doc indexes only the PREFIX of its shingle set under a global
    rarity order — per-block document frequency ascending, shingle
    string as tiebreak — of length ``sz − ⌈t·sz⌉ + 1``. Lossless for
    Jaccard ≥ t: J(A,B) ≥ t ⇒ |A∩B| ≥ t·|A∪B| ≥ ⌈t·max(|A|,|B|)⌉, so
    the order-minimum common element w has rank ≤ |A|−⌈t|A|⌉+1 in A
    (everything below w in A is outside A∩B) and likewise in B — w
    sits in BOTH prefixes and the equi-join finds the pair. The
    payoff at scale: a shingle shared by k docs in a block used to fan
    out k² candidate rows, and the hot (high-df) shingles are exactly
    the ones the rarity order pushes OUT of every prefix, so
    candidate growth tracks rare-feature co-occurrence, not block
    size (×10 dup-stress measured in SCALING.md; the un-prefixed form
    was itself measured 38.5 s → seconds at sf0.1 vs naive all-pairs).
    A size filter (t·|A| ≤ |B| ≤ |A|/t, implied by J ≥ t) prunes
    candidates before verification; verification computes exact
    Jaccard from the two full shingle arrays.

    Pruning runs at a SLACKENED threshold t−1e-6 (plus a 1e-9 nudge
    inside the ceil): the verifier accepts round(J, 6) ≥ t — true
    Jaccard down to t−5e-7 — and IEEE doubles can round t·sz just
    above the true product (0.55·100 = 55.00000000000001, whose
    un-nudged ceil shortened the prefix by one and silently dropped a
    J=0.55 pair at t=0.55; same boundary killed it in the size
    filter). The slack only ADDS candidates — at most one prefix slot
    per doc — and the exact verification keeps the output identical,
    so losslessness holds for every pair the verifier would accept
    (pinned by tests/test_operators.py::test_ngram_jaccard_float_boundary
    and the t∈{0.3, 0.5, 0.55} property fuzz).
    """
    cand, sized = ngram_prefix_candidates(
        df, text_col, id_col, block_col, shingle_n, threshold
    )
    # Verify on full shingle arrays, candidates only.
    return _verify_jaccard(
        cand, sized.select(F.col(id_col), "sh"), id_col, threshold
    )


def simhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """32-bit SimHash per document as slim (id, simhash) rows.

    Explode-based build, same shape as minhash_signatures: explode
    tokens, md5 each token ONCE, project the 8 hex-digit values, and
    feed 32 conditional sums into one HashAggregate. The obvious
    single-expression form (functions/hashing.py::simhash32 — 32
    aggregate() folds over the token array per row) is interpreted,
    so it re-evaluates md5(token) once PER BIT: 32 md5s per token vs
    one here (measured on the sf0.1 signature build: 1.2s → 0.9s
    warm; the full pairs query 2.0s → 1.3s warm).
    Map-side combine collapses the explode before the shuffle, so at
    any scale the exchange moves one 32-int row per (doc, partition),
    never tokens.
    """
    tok = ensure_min_partitions(df).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    # r16 per-token slimming, bit-identical to the 8-hex-digit form it
    # replaces: the first 8 md5 hex chars ARE a 32-bit integer, so one
    # conv() replaces eight substring+instr digit extractions — hex
    # digit d is (h32 >> 4*(7-d)) & 15 (char 0 is the high nibble), so
    # bit j (= bit j%4 of digit j//4) is (h32 >> (4*(7-j//4) + j%4))&1.
    # The per-bit sum drops the *2-1 mapping: sum(2b-1) = 2*sum(b) - n,
    # and the sign test 2*c - n > 0 over integers is exactly the old
    # contrib > 0. count(h32) mirrors sum()'s null semantics
    # (explode-of-split never yields null tokens, but keep the
    # aggregate pair self-consistent).
    #
    # r17 SWAR lane packing (guide §1.2 per-task work; the 32-buffer
    # aggregate's fixed cost was the measured residual — an 8-sum
    # variant ran 0.48 s vs 0.66 s for 32 sums on the same 270k
    # tokens): the 32 bit-counters ride in EIGHT bigint sums of four
    # 15-bit lanes each. Sum s carries bits j = 4s..4s+3, whose shifts
    # 4*(7-j//4) + j%4 = 4*(7-s) + l (l = j%4) are contiguous — i.e.
    # exactly nibble (7-s) of h32. The multiply-spread
    # (nibble * (1 + 2^14 + 2^28 + 2^42)) & (1 + 2^15 + 2^30 + 2^45)
    # places bit l at lane position 15l with no carries (the four
    # shifted copies occupy disjoint bit ranges), so summing over
    # tokens accumulates each bit's count in its own lane:
    # c_{4s+l} = (S_s >> 15l) & 0x7FFF. Integer-exact, hence
    # bit-identical simhash — PROVIDED no lane overflows, so docs are
    # capped at 32767 tokens (4 lanes × 15 bits keeps the top lane's
    # accumulator below bit 60; the raise_error guard fails LOUDLY on
    # a longer doc instead of silently corrupting signatures — chunk
    # or pre-truncate such documents upstream).
    h32 = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("bigint")
    bits = tok.select(id_col, h32.alias("h32"))
    spread = F.lit((1 << 0) + (1 << 14) + (1 << 28) + (1 << 42))
    lanes = F.lit((1 << 0) + (1 << 15) + (1 << 30) + (1 << 45))
    sums = [
        F.sum(
            (
                F.shiftright(F.col("h32"), 4 * (7 - s)).bitwiseAND(F.lit(15))
                * spread
            ).bitwiseAND(lanes)
        ).alias(f"s{s}")
        for s in range(8)
    ] + [F.count("h32").alias("n_tok")]
    agg = bits.groupBy(id_col).agg(*sums)
    packed = None
    for j in range(32):
        c = F.shiftright(F.col(f"s{j // 4}"), 15 * (j % 4)).bitwiseAND(
            F.lit(0x7FFF)
        )
        term = (
            F.when(2 * c - F.col("n_tok") > 0, F.lit(1 << j).cast("bigint"))
            .otherwise(F.lit(0).cast("bigint"))
        )
        packed = term if packed is None else packed + term
    guarded = F.when(F.col("n_tok") <= 32767, packed).otherwise(
        F.raise_error(
            F.lit(
                "simhash_signatures: document exceeds 32767 tokens; the "
                "SWAR lane-packed aggregate would overflow — chunk the "
                "document or widen the lanes"
            )
        ).cast("bigint")
    )
    return agg.select(F.col(id_col), guarded.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs via hamming-distance band bucketing.

    The standard scale path for SimHash: split the 32-bit signature
    into ``bands`` contiguous chunks (4 bands × 8 bits). By pigeonhole,
    any two signatures within hamming distance ``bands - 1`` (≤ 3
    differing bits over 4 chunks) agree EXACTLY on at least one chunk —
    so the banded candidate join finds every qualifying pair, and the
    all-pairs oracle can certify zero recall loss. Candidates sharing a
    (band, chunk-value) bucket are verified with
    bit_count(xor) <= max_hamming.

    Candidate generation runs on slim (id, simhash, band, bkey) rows —
    the equi-join shuffles short keys only, never text; a hot bucket
    (e.g. the all-zeros chunk) salts like any skewed join key.

    Requires ``max_hamming <= bands - 1`` for the completeness
    guarantee; returns (id_a, id_b, hamming) with id_a < id_b.
    """
    if bands < 1 or 32 % bands != 0:
        # Same guard class as minhash_lsh_pairs' bands check: bands > 32
        # gives bits_per_band = 0, so every (band, bkey) is (b, 0) and
        # the bounded candidate join silently degenerates to `bands`
        # copies of the full n² self-join; a non-divisor of 32 leaves
        # the top 32 % bands bits out of every band key, voiding the
        # pigeonhole completeness the oracle certifies.
        raise ValueError(f"bands must divide 32 exactly, got bands={bands}")
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs >= {max_hamming + 1} bands "
            "for the pigeonhole completeness guarantee"
        )
    bits_per_band = 32 // bands
    mask = (1 << bits_per_band) - 1
    # Persist barrier on the slim (id, simhash) table: the banded
    # self-join consumes it on BOTH sides and the signature aggregate
    # would otherwise run twice. Same rationale as with_shingles;
    # released by the query wrapper after evaluation.
    sig = managed_persist(simhash_signatures(df, text_col, id_col))
    banded = sig.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * bits_per_band)
                        .bitwiseAND(F.lit(mask))
                        .alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.band", "bb.bkey")
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "band", "bkey"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "band", "bkey"
    )
    return (
        a.join(b, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.4,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within blocks (cluster/label/IVF
    cell). The blocked join keeps the candidate count linear-ish in
    block size; at scale the block assignment is the IVF coarse
    quantizer (operators/similarity.py).

    Norms are precomputed ONCE per vector behind the persist barrier —
    cosine_similarity(va, vb) inline would re-fold each vector's norm
    once per PAIR it appears in (~block-size× recompute; the same
    CollapseProject trap brute_force_topk documents), and the
    unpersisted slim table would re-scan the parquet for both join
    sides. try_divide keeps the all-zero-vector case null, not a
    crashed ANSI job, exactly as cosine_similarity does — the per-pair
    expression is the same dot/(na·nb) with the norms hoisted, so
    results are bit-identical."""
    from ..functions.vectors import dot_product, l2_norm

    v = managed_persist(
        ensure_min_partitions(df)
        .select(
            F.col(id_col),
            F.col(block_col).alias("blk"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .withColumn("nrm", l2_norm(F.col("v")))
    )
    a = v.select(
        F.col(id_col).alias("id_a"), "blk",
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = v.select(
        F.col(id_col).alias("id_b"), "blk",
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    sim = F.try_divide(
        dot_product(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")
    )
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(sim, 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# Registered oracle-checked queries (documents / embeddings tables)
# ---------------------------------------------------------------------------

# Shared DuckDB fragments replaying functions/text.py + hashing.py.
_SQL_SHINGLES3 = (
    "list_distinct([array_to_string(w[i:i+2], ' ') "
    "for i in range(1, len(w) - 1)])"
)
_SQL_WORDS = f"regexp_split_to_array({SQL_WS_TRIM_TEXT}, '{SQL_WS}+')"

# The full MinHash candidate pipeline (shingle → signature → banding →
# candidate join) as ONE shared CTE block: the pairs oracle and the
# clusters oracle both replay it, and the hand-copied twin let the two
# correctness contracts drift independently (review finding — the
# shared _SQL_* fragments exist for exactly this reason).
_SQL_MINHASH_CAND_CTES = f"""sh AS (
            SELECT doc_id, {_SQL_SHINGLES3} AS shingles
            FROM (SELECT doc_id, {_SQL_WORDS} AS w FROM documents)
            WHERE len(w) >= 3
        ),
        sig AS (
            SELECT doc_id,
                   [list_aggregate([('0x' || substr(md5(CAST(k AS VARCHAR) || ':' || s), 1, 15))::BIGINT
                                    for s in shingles], 'min')
                    for k in range(0, 16)] AS mh
            FROM sh
        ),
        banded AS (
            SELECT doc_id, b.band,
                   md5(array_to_string(mh[b.band*4 + 1 : b.band*4 + 4], '|')) AS bkey
            FROM sig, (SELECT unnest(range(0, 4)) AS band) b
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
            WHERE a.doc_id < b.doc_id
        )"""


@register(
    "dedup_exact",
    oracle=f"""
        SELECT md5(trim(regexp_replace(lower(text), '{SQL_WS}+', ' ', 'g'))) AS fp,
               MIN(doc_id) AS doc_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY 1
    """,
    tags=("dedup",),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over documents: group by normalized-text fingerprint,
    keep min doc_id + copy count."""
    return dedup_exact(load_table(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "dedup_minhash_lsh",
    oracle=f"""
        WITH {_SQL_MINHASH_CAND_CTES}
        SELECT id_a, id_b, jaccard FROM (
            SELECT c.id_a, c.id_b,
                   ROUND(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
                         / len(list_distinct(sa.shingles || sb.shingles)), 6) AS jaccard
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.id_a
            JOIN sh sb ON sb.doc_id = c.id_b
        ) WHERE jaccard >= 0.5
    """,
    tags=("dedup", "lsh"),
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands × 4 rows) near-dup pairs over documents,
    verified at exact 3-shingle Jaccard ≥ 0.5. The oracle replays the
    full pipeline — signature, banding, candidate join, verify."""
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        num_hashes=16,
        bands=4,
        shingle_n=3,
        jaccard_threshold=0.5,
    )


@register(
    "dedup_simhash_pairs",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array({SQL_WS_TRIM_TEXT}, '{SQL_WS}+')) AS tok
            FROM documents
        ),
        contribs AS (
            SELECT doc_id, j,
                   SUM(CASE WHEN
                         ((strpos('0123456789abcdef',
                                  substr(md5(tok), (j // 4) + 1, 1)) - 1)
                          >> (j % 4)) & 1 = 1
                       THEN 1 ELSE -1 END) AS contrib
            FROM toks, (SELECT unnest(range(0, 32)) AS j) bits
            GROUP BY doc_id, j
        ),
        sh AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN contrib > 0 THEN 1::BIGINT << j ELSE 0 END)
                        AS BIGINT) AS simhash
            FROM contribs
            GROUP BY doc_id
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    tags=("dedup", "simhash"),
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS: 32-bit signature per document, 4×8-bit
    hamming band bucketing for candidates, bit_count(xor) <= 3 verify.
    The oracle computes the same signatures but filters ALL pairs
    directly — the banded result matching it certifies the pigeonhole
    banding loses no qualifying pair (zero recall loss)."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_pairs(d, "text", "doc_id", max_hamming=3, bands=4)


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
        WITH sh AS (
            SELECT doc_id, source AS blk,
                   list_distinct([array_to_string(w[i:i+1], ' ')
                                  for i in range(1, len(w))]) AS s
            FROM (SELECT doc_id, source, regexp_split_to_array({SQL_WS_TRIM_TEXT}, '{SQL_WS}+') AS w
                  FROM documents)
            WHERE len(w) >= 2
        )
        SELECT id_a, id_b, jaccard FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ROUND(len(list_intersect(a.s, b.s))::DOUBLE
                         / len(list_distinct(a.s || b.s)), 6) AS jaccard
            FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
        ) WHERE jaccard >= 0.3
    """,
    tags=("dedup", "jaccard"),
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact bigram-Jaccard pairs (blocking key = source)."""
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        "source",
        shingle_n=2,
        threshold=0.3,
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
        SELECT id_a, id_b, cosine FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 6) AS cosine
            FROM embeddings a
            JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        ) WHERE cosine >= 0.4
    """,
    tags=("dedup", "embedding"),
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs blocked by label (the coarse
    cluster id), cosine ≥ 0.4."""
    return embedding_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        "embedding",
        "vec_id",
        "label",
        threshold=0.4,
    )


def _cc_width(n_rows: int, session_width: int) -> int:
    """Shuffle width for one contraction round: ~64k slim (long, long)
    edge rows per task — small enough per task, big enough that task
    launch (~ms each) doesn't dominate a tiny round — capped at the
    session width. A 256-edge bench graph runs 1-wide (instead of
    paying 32 launches per stage), a 250k-edge stress graph ~4-wide,
    and a cluster-scale graph at full session width. Pure (unit-pinned
    without Spark)."""
    return max(1, min(session_width, n_rows // 65_536 + 1))


# Edge-count ceiling for the CC loop's BROADCAST regime (r17, guide
# §3.1 "pick the join strategy deliberately"): a round whose working
# edge set is at most this many rows broadcasts its merge map m2 (≤
# 2×edges slim (long, long) rows ≈ 32 MB at the cap) into the relabel
# and contraction joins instead of shuffling both sides — the shuffle
# regime's ~12 sequential exchanges per round are pure stage-launch
# fixed cost when the data is this small. Scale-adaptive, not a local
# tune: a 100 TB graph's FIRST rounds exceed the cap and take the
# shuffle path; as components contract, the endgame rounds fall under
# it and stop paying full-width shuffles for kilobytes of residue.
# The loop already counts edges every round (the convergence check),
# so the regime choice is free.
_CC_BROADCAST_EDGES = 1 << 20


def _cc_merge_map(edges: DataFrame, w: int, small: bool = False) -> DataFrame:
    """One contraction round's POINTER-DOUBLED merge map m∘m over a
    symmetrized (src, dst) edge frame: m(u) = min({u} ∪ N(u)), then one
    self-join follows the map a second hop. Returns the PLAN; the loop
    localCheckpoints it before fan-out (both the relabel and the
    contraction consume it). Split out of connected_components (r06)
    so scripts/dump_plans.py can render a round's physical plan — the
    final converged frame's plan shows only materialized scan blocks.

    WIDTH REALITY (r06, discovered via the regenerated plan dump):
    the round's JOIN exchanges cannot be width-scoped from the
    DataFrame layer. The checkpointed inputs scan as
    UnknownPartitioning (their physical src-clustering is real but
    invisible to the planner), so every join input needs a shuffle —
    and when ALL of a join's children are shuffles, EnsureRequirements
    sizes them at the SESSION ``spark.sql.shuffle.partitions``,
    overwriting any user ``repartition(w, key)`` underneath (verified:
    both sides explicitly repartitioned at 2 still plan at the session
    width, AQE on or off). At runtime AQE's coalescing right-sizes
    those reducers to the data, which is why forced-width A/Bs
    measured equivalent (SCALING.md r05). What ``w`` DOES control —
    and what _cc_width is really sizing — is the round's materialized
    block count via the FINAL ``repartition(w, src)`` in
    _cc_apply_round: the map-side task count of every exchange in the
    NEXT round, the fixed cost that made tiny rounds pay 32 task
    launches per stage. The two sides of the m self-join are
    alias-identical subtrees, so ReuseExchange computes m once.

    ``small=True`` (r17): the doubling hop joins a BROADCAST copy of m
    instead of repartitioning both sides — see _CC_BROADCAST_EDGES."""
    m = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_nb"))
        .select("src", F.least("src", "_nb").alias("mn"))
    )
    hop = m.select(F.col("src").alias("_s"), F.col("mn").alias("_m"))
    if small:
        return m.join(
            F.broadcast(hop), F.col("mn") == F.col("_s"), "left"
        ).select("src", F.coalesce("_m", "mn").alias("mn"))
    return (
        m.repartition(w, "mn")
        .join(hop, F.col("mn") == F.col("_s"), "left")
        .select("src", F.coalesce("_m", "mn").alias("mn"))
    )


def _cc_apply_round(
    edges: DataFrame, mapping: DataFrame, m2: DataFrame, w: int,
    small: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Apply a MATERIALIZED merge map: relabel the node→super-node
    mapping (frozen components left-join to nothing and keep their
    label via coalesce) and contract the edge set onto merged ids
    (self-loops and duplicate edges drop out, so the working set
    shrinks monotonically). Returns (mapping_plan, edges_plan); the
    loop localCheckpoints both. The FINAL ``repartition(w, src)`` is
    the one width that sticks (see _cc_merge_map's width-reality
    note): it clusters the (src, dst) dedup, and it fixes the
    materialized round at w blocks — the map-side task count of every
    next-round exchange, the per-round fixed cost _cc_width sizes.
    Join reducer widths are the session width at plan time, coalesced
    by AQE at run time.

    ``small=True`` (r17, _CC_BROADCAST_EDGES): m2 is joined as a
    BROADCAST relation, so the relabel and both contraction hops run
    as map-side joins over the round's checkpointed blocks — no
    repartition of either stream side, and the only exchanges left in
    the round are the final ``repartition(w, src)`` (whose hash(src)
    output also satisfies the dropDuplicates clustering, so the dedup
    adds none). The two m2 projections differ, so Spark builds two
    broadcast relations; both read the persisted m2 blocks once."""
    if small:
        new_mapping = mapping.join(
            F.broadcast(m2), F.col("label") == F.col("src"), "left"
        ).select("node", F.coalesce("mn", "label").alias("label"))
        new_edges = (
            edges.join(F.broadcast(m2), "src")
            .select(F.col("mn").alias("src"), "dst")
            .join(
                F.broadcast(
                    m2.select(F.col("src").alias("dst"), F.col("mn").alias("_dmn"))
                ),
                "dst",
            )
            .select("src", F.col("_dmn").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .repartition(w, "src")
            .dropDuplicates(["src", "dst"])
        )
        return new_mapping, new_edges
    new_mapping = (
        mapping.repartition(w, "label")
        .join(m2, F.col("label") == F.col("src"), "left")
        .select("node", F.coalesce("mn", "label").alias("label"))
    )
    new_edges = (
        edges.join(m2, "src")
        .select(F.col("mn").alias("src"), "dst")
        .repartition(w, "dst")
        .join(
            m2.select(F.col("src").alias("dst"), F.col("mn").alias("_dmn")),
            "dst",
        )
        .select("src", F.col("_dmn").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .repartition(w, "src")
        .dropDuplicates(["src", "dst"])
    )
    return new_mapping, new_edges


def connected_components(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                         max_iterations: int = 20) -> DataFrame:
    """Connected components over an undirected pair set → (node,
    cluster_id = min node id in the component).

    Contraction CC (star-merge, the DataFrame rendition of the
    large-star/small-star family — Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): each round every
    current super-node u merges into m(u) = min({u} ∪ N(u)). Every
    merge group is a star around its local minimum (each member is
    adjacent to it), so contraction preserves components exactly; the
    edge set is then REWRITTEN onto the merged ids, and self-loops +
    duplicates drop out. The applied map is pointer-doubled (m∘m)
    first — still within-component (two merge hops), so validity is
    unchanged, but chains shrink geometrically instead of one hop per
    round. Two scale properties the previous one-hop min-label
    propagation lacked (VERDICT r04 item 4 — its K=10 stress growth
    was 3.11×, the worst in the table, because every round
    re-shuffled the FULL edge set for diameter-many rounds):

    - the per-round shuffle SHRINKS: a clique-ish near-dup cluster
      contracts to a singleton in one round and its edges vanish from
      every later round (frozen components cost nothing), so rounds
      after the first touch only the still-merging residue;
    - the doubled map roughly HALVES the rounds a chain-like graph
      needs (each application follows two merge hops, so an n-node
      path contracts in ~n/2 rounds instead of ~n — measured: an
      8-node path converges in 4 rounds). Near-dup graphs are
      clique-like and collapse in 1-2 rounds regardless; true
      O(log diameter) would need iterating the doubling to fixpoint
      within each round, extra map-sized joins the adversarial chain
      shape doesn't arise often enough in dedup graphs to justify.

    The input `pairs` plan is evaluated ONCE — lazily localCheckpointed
    BEFORE symmetrization (the sizing count is the job that
    materializes the blocks), so the union reads those blocks twice
    instead of running the (expensive, typically LSH) candidate
    pipeline twice. Each ROUND materializes exactly one frame (r17):
    the relabeled mapping and the contracted edges as a tagged union
    behind a lazy ``localCheckpoint(eager=False)`` — the checkpoint
    truncates the logical plan at call time (round k's plan does not
    nest rounds 1..k-1; measured ~1.5-2 s of pure PLANNING per round
    otherwise, and a persist-only barrier OOMs a long chain — see the
    loop comment), and the convergence count is the single job that
    computes + pins the blocks. The ContextCleaner frees dropped
    rounds' blocks. On a multi-executor cluster prefer reliable
    checkpoint() to an HDFS dir — same lineage-truncation role with
    fault tolerance. Rounds whose working set fits a broadcast (every
    graph's endgame; the whole graph at near-dup scale) switch the
    merge-map joins to broadcast — see _CC_BROADCAST_EDGES.

    Near-dup pair graphs are orders of magnitude smaller than the
    corpus, so at the session's default width each tiny round would
    pay ~32 task launches per stage (measured 3.1s for a 256-edge
    graph) — but a FIXED small width would throttle the first round
    of a stress-scale graph (the one round that still carries the
    full edge set). The loop width is therefore chosen PER ROUND from
    the measured edge count (``_cc_width``: ~64k slim edge rows per
    task, capped at the session width — the convergence count every
    round already pays for the statistic) with no session-global
    ``spark.sql.shuffle.partitions`` mutation (VERDICT r04 item 2:
    the global pin would silently re-plan any concurrently built
    query at width 4). What w physically controls is the round's
    MATERIALIZED BLOCK COUNT (the final ``repartition(w, src)`` before
    each checkpoint, and the shuffle-free ``coalesce(w)`` on the
    symmetrize plan) — i.e. the map-side task count of every exchange
    in the next round; the joins' reducer widths plan at the session
    width and AQE coalesces them to the data at run time (see
    _cc_merge_map's width-reality note — a user repartition under a
    join whose children are all shuffles is resized to the session
    width by EnsureRequirements, so they cannot be scoped from the
    DataFrame layer).
    """
    if max_iterations <= 0:
        # A non-positive budget would skip the loop and return every
        # node as its own singleton cluster — the silent-wrong-labels
        # case the convergence guard below exists to prevent.
        raise ValueError(f"max_iterations must be >= 1, got {max_iterations}")
    spark = pairs.sparkSession
    try:
        session_w = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        # Auto-tuning platforms report a non-numeric value (e.g.
        # "auto"); fall back to the cluster's physical parallelism.
        session_w = spark.sparkContext.defaultParallelism
    # Lazy localCheckpoint + count (r17): ONE job materializes the
    # pair set AND sizes the first round — the old eager checkpoint +
    # count was two. eager=False still TRUNCATES the logical plan at
    # call time (the returned frame scans the to-be-checkpointed RDD),
    # which matters twice here: the candidate pipeline never re-runs,
    # and every round's plan bottoms out at a LogicalRDD leaf instead
    # of re-analyzing the full LSH plan (a persist barrier was tried
    # and reverted — its InMemoryRelation keeps the whole candidate
    # plan inside every round's analysis, measured ~0.5 s/round of
    # extra planning on the sf0.1 clusters query).
    cp = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).localCheckpoint(eager=False)
    n_edges = 2 * cp.count()
    w = _cc_width(n_edges, session_w)
    # Symmetrize so every node with any edge appears as src (m(u) reads
    # the full neighborhood from one groupBy). A PLAN over the cached
    # pair blocks, not a materialization of its own (r17): its round-0
    # consumers (the merge map's groupBy, the contraction join, the
    # initial node set) each re-read the cache through one cheap union
    # — the dedicated symmetrize job bought nothing, because a
    # materialized frame scans as UnknownPartitioning anyway (see
    # _cc_merge_map's width-reality note), so the old
    # repartition(w, src) never saved a downstream exchange. The
    # shuffle-free coalesce(w) keeps each consumer's MAP side at w
    # tasks (the cached pair blocks arrive at the candidate pipeline's
    # full width — without the coalesce, round 0 paid 3 × ~2×width
    # task launches of pure scheduling for a kilobyte-scale graph;
    # with it, the same plan narrows exactly like the old
    # materialized-at-w blocks did).
    edges = cp.union(
        cp.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).coalesce(w)
    # node → current super-node id. Updated through each round's merge
    # map; once a node's component has fully contracted (its edges left
    # the working set), the left join below finds no row and the label
    # — already the component min — is frozen via coalesce. A PLAN,
    # not a checkpoint (r17): round 0's relabel is its only consumer,
    # and it derives from the already-materialized edge blocks — the
    # dedicated materialization job bought nothing (rounds ≥ 1 read
    # their mapping from the round's fused checkpoint anyway).
    mapping = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    remaining = 0
    small = n_edges <= _CC_BROADCAST_EDGES
    for _ in range(max_iterations):
        # Merge map (m∘m, _cc_merge_map) computed once per round: both
        # the relabel and the contraction consume it. persist(), not
        # localCheckpoint() (r16): the cache materializes lazily inside
        # the FIRST consumer's checkpoint job instead of paying a
        # dedicated materialization job per round — one fewer job ×
        # rounds, and plan nesting stays bounded because m2's lineage
        # is one groupBy+join over the round's already-checkpointed
        # edge blocks. Unpersisted as soon as the round's frames are
        # materialized.
        m2 = _cc_merge_map(edges, w, small).persist()
        # Relabel + contract (_cc_apply_round): self-loops and
        # duplicate edges drop out, so the working set shrinks
        # monotonically; the trailing hash(src, W) feeds the next
        # round's groupBy without a further exchange. `small` rounds
        # broadcast m2 into every hop (see _CC_BROADCAST_EDGES).
        mapping, edges = _cc_apply_round(edges, mapping, m2, w, small)
        # r17 (VERDICT r16 item 2): ONE job per round instead of three.
        # The relabeled mapping and the contracted edge set are slim
        # same-shaped (id, id) frames, so they materialize together as
        # a tagged union behind a LAZY localCheckpoint — the plan is
        # truncated to a scan of the (to-be-)checkpointed RDD at call
        # time, and the convergence count on the edge half is the one
        # job that computes + pins every block. persist() was tried
        # here and is NOT equivalent: it leaves the logical plan
        # intact, so each round's analysis re-walks every earlier
        # round's tree (the edges/m2 subplans appear 3-4× per round →
        # exponential rule-execution work; a 7-round chain graph OOMed
        # the driver). The checkpoint truncation is what keeps round
        # k's plan O(1). m2 stays a lazy persist; its first
        # materialization happens inside the round job (the union
        # branches' stages may briefly race on a cold m2 partition,
        # but block-level persist locking bounds that to a duplicate
        # compute of the round's tiny merge map — measured cheaper
        # than the dedicated job it replaces).
        combined = (
            mapping.select(
                F.lit(0).alias("_t"),
                F.col("node").alias("_a"),
                F.col("label").alias("_b"),
            )
            .unionAll(
                edges.select(
                    F.lit(1).alias("_t"),
                    F.col("src").alias("_a"),
                    F.col("dst").alias("_b"),
                )
            )
            .localCheckpoint(eager=False)
        )
        mapping = combined.filter(F.col("_t") == 0).select(
            F.col("_a").alias("node"), F.col("_b").alias("label")
        )
        edges = combined.filter(F.col("_t") == 1).select(
            F.col("_a").alias("src"), F.col("_b").alias("dst")
        )
        remaining = edges.count()
        m2.unpersist()
        if remaining == 0:
            break
        w = _cc_width(remaining, session_w)
        # `remaining` already counts the symmetrized working set, so
        # it compares to the cap directly (m2 has at most one row per
        # distinct src ≤ remaining).
        small = remaining <= _CC_BROADCAST_EDGES
    if remaining != 0:
        # Exhausting the iteration budget mid-contraction would return
        # plausible-looking but WRONG labels (one component split across
        # several cluster_ids). Fail loudly instead — the caller should
        # raise the budget (chain-like graphs contract ~2 hops per
        # round, so worst case ≈ half the component diameter; ADVICE
        # r05 — the earlier log2(diameter) guidance under-budgeted
        # chains).
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"iterations ({remaining} edges still contracting); raise "
            "max_iterations to ~half the largest component's diameter "
            "(clique-like near-dup graphs converge in 1-2 rounds; long "
            "chains need ~diameter/2)"
        )
    # The final frame reads the last round's lazily localCheckpointed
    # union (its blocks were computed by the convergence count). The
    # managed lifecycle does not own these blocks: Spark's ContextCleaner
    # drops each round's checkpoint RDD once nothing references it.
    return mapping.select("node", F.col("label").alias("cluster_id"))


@register(
    "dedup_lsh_clusters",
    oracle=f"""
        WITH RECURSIVE {_SQL_MINHASH_CAND_CTES},
        pairs AS (
            SELECT id_a, id_b FROM (
                SELECT c.id_a, c.id_b,
                       len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
                       / len(list_distinct(sa.shingles || sb.shingles)) AS jac
                FROM cand c
                JOIN sh sa ON sa.doc_id = c.id_a
                JOIN sh sb ON sb.doc_id = c.id_b
            ) WHERE round(jac, 6) >= 0.5
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM pairs
        ),
        reach(node, root) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.root
            FROM reach r JOIN edges e ON e.src = r.node
        )
        SELECT node, MIN(root) AS cluster_id
        FROM reach
        GROUP BY node
    """,
    tags=("dedup", "lsh", "clustering", "iterative"),
)
def q_dedup_lsh_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: LSH pair generation followed by iterative
    connected components — the step that turns pairwise matches into
    keep-one-per-group dedup decisions. The oracle replays the whole
    pipeline including the graph closure (recursive CTE)."""
    # No persist wrapper: connected_components persists the projected
    # pair set itself (its one consumer) — a cache here would hold a
    # dead second copy in executor memory until release (review
    # finding).
    pairs = minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        num_hashes=16,
        bands=4,
        shingle_n=3,
        jaccard_threshold=0.5,
    )
    return connected_components(pairs)
