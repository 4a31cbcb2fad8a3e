"""Property-based tests (hypothesis) for the semantics that must hold on
ANY input, not just the fixtures: unit-conversion algebra (SURVEY.md
§5.2.4), portable rounding vs DuckDB, membership-filter equivalence,
and the char-hash/duckdb parity over arbitrary ASCII text."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from pyspark_data_processing_challenge_spark.functions import textfns
from pyspark_data_processing_challenge_spark.operators import relational

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

prices = st.floats(min_value=0.0, max_value=1e6, allow_nan=False, width=64)
# zero exercises the try_divide branch; positive values stay >= 1e-3 so
# price/qty can't overflow to inf (denormal qty is outside any real
# domain — IEEE division then yields inf, which the operator passes
# through unrounded like any >=1e15 magnitude)
quantities = st.one_of(
    st.just(0.0),
    st.floats(min_value=1e-3, max_value=1e4, allow_nan=False, width=64),
)
units = st.sampled_from(["CS", "ST", "cs", "Xx", None])


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(prices, quantities, units), min_size=1, max_size=12
    )
)
def test_unit_conversion_properties(spark, rows):
    df = spark.createDataFrame(
        [(float(p), float(q), u) for p, q, u in rows],
        "precio double, cantidad double, unidad string",
    )
    out = relational.standardize_units(
        df,
        qty_col="cantidad",
        price_col="precio",
        unit_col="unidad",
        from_unit="CS",
        factor=20.0,
        to_unit="ST",
        qty_out="q_std",
        price_out="p_std",
        unit_out="u_std",
    ).collect()
    for (p, q, u), r in zip(rows, out):
        conv = u is not None and u.upper() == "CS"
        # qty algebra
        assert r["q_std"] == (q * 20.0 if conv else q)
        # unconverted rows pass price through untouched
        if not conv:
            assert r["p_std"] == p
        # converted rows: either null (zero qty → try_divide) or
        # total reconstruction error bounded by the rounding step
        elif r["q_std"] == 0.0:
            assert r["p_std"] is None
        else:
            assert r["p_std"] is not None
            assert abs(r["p_std"] * r["q_std"] - p) <= 0.005 * r["q_std"] + 1e-9
        # unit column is unconditionally the target unit
        assert r["u_std"] == "ST"


@SETTINGS
@given(
    vals=st.lists(
        st.floats(min_value=0.0, max_value=1e9, allow_nan=False, width=64),
        min_size=1,
        max_size=20,
    )
)
def test_round2_matches_duckdb(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [
        r["y"] for r in df.select(relational.round2(F.col("x")).alias("y")).collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute("select floor(? * 100.0 + 0.5) / 100.0", [v]).fetchone()[0]
        for v in vals
    ]
    assert got == want  # bit-identical, not approx


@SETTINGS
@given(
    values=st.lists(st.sampled_from(["A", "B", "C", "D", None]), min_size=1, max_size=15),
    set1=st.sets(st.sampled_from(["A", "B", "C"]), min_size=1, max_size=3),
    set2=st.sets(st.sampled_from(["B", "C", "D"]), min_size=1, max_size=3),
)
def test_membership_filter_union_vs_single_scan(spark, values, set1, set2):
    df = spark.createDataFrame([(v,) for v in values], "k string")
    single = relational.filter_membership(df, "k", [set1, set2]).collect()
    union = relational.filter_membership(
        df, "k", [set1, set2], union_semantics=True
    ).collect()
    # single-scan == set semantics
    assert sorted(r["k"] for r in single) == sorted(
        v for v in values if v in (set1 | set2)
    )
    # union mode duplicates overlap rows — pinned reference semantics
    expected_union = [v for v in values if v in set1] + [
        v for v in values if v in set2
    ]
    assert sorted(r["k"] for r in union) == sorted(expected_union)


ascii_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=60
)


@SETTINGS
@given(texts=st.lists(ascii_text, min_size=1, max_size=10))
def test_char_hash_parity_with_duckdb(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    got = [
        r["h"]
        for r in df.select(textfns.char_hash(F.col("s")).alias("h")).collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(
            "select list_reduce(list_prepend(0::BIGINT, "
            "list_transform(string_split(?, ''), c -> ascii(c)::BIGINT)), "
            "(a,b) -> (a*31+b) % 1000000007)",
            [t],
        ).fetchone()[0]
        for t in texts
    ]
    assert got == want


@SETTINGS
@given(texts=st.lists(ascii_text.filter(lambda t: t.strip()), min_size=1, max_size=8))
def test_fast_minhash_matches_expression(spark, texts):
    """The Arrow/numpy path and the Column-expression path must agree on
    arbitrary ASCII input, not just the fixture corpus."""
    from pyspark_data_processing_challenge_spark.functions.fast_text import (
        with_minhash_fast,
    )
    from pyspark_data_processing_challenge_spark.operators.dedup import with_minhash

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    a = {
        r["doc_id"]: list(r["minhash"])
        for r in with_minhash(df, "text", num_hashes=8, shingle_n=2).collect()
    }
    b = {
        r["doc_id"]: list(r["minhash"])
        for r in with_minhash_fast(df, "text", num_hashes=8, shingle_n=2).collect()
    }
    assert a == b


@SETTINGS
@given(
    w=st.integers(1, 128),
    h=st.integers(1, 128),
    sr=st.sampled_from([8000, 11025, 16000, 22050, 44100, 48000]),
    n=st.integers(1, 500_000),
    ch=st.integers(1, 8),
    dur=st.integers(1, 10**7),
    ts=st.sampled_from([600, 1000, 90000, 44100]),
)
def test_media_codec_roundtrip_properties(w, h, sr, n, ch, dur, ts):
    """Every encoder/parser pair must roundtrip on arbitrary valid
    parameters — not just the planted corpus values."""
    from pyspark_data_processing_challenge_spark.operators import multimodal as mm

    assert mm.parse_media_header(mm.encode_png(w, h)) == ("png", w, h, None, None, None)
    assert mm.parse_media_header(mm.encode_jpeg(w, h)) == (
        "jpeg", w, h, None, None, None,
    )
    assert mm.parse_media_header(mm.encode_gif(w, h)) == ("gif", w, h, None, None, None)
    fmt, _, _, got_sr, got_ch, got_dur = mm.parse_media_header(
        mm.encode_wav(sr, n, channels=ch)
    )
    assert (fmt, got_sr, got_ch) == ("wav", sr, ch)
    assert got_dur == n * 1000 // sr
    fmt, *_, got_dur = mm.parse_media_header(mm.encode_mp4(dur, timescale=ts))
    assert fmt == "mp4"
    # encoder floors duration to whole timescale ticks
    assert got_dur == (dur * ts // 1000) * 1000 // ts


@SETTINGS
@given(
    assignments=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 3)),  # (band, bucket)
        min_size=2,
        max_size=60,
    ),
    num_blocks=st.integers(2, 5),
    hot_threshold=st.integers(1, 10),
)
def test_banded_pairs_equals_plain_join(
    spark, assignments, num_blocks, hot_threshold
):
    """The skew-guarded pair generator must produce EXACTLY the plain
    self-join's pair multiset for arbitrary bucket structures, block
    counts and thresholds — the property the blocked replication plus
    block-pair predicate is supposed to guarantee."""
    from pyspark_data_processing_challenge_spark.operators import dedup

    rows = [
        (i, band, f"k{bucket}") for i, (band, bucket) in enumerate(assignments)
    ]
    exploded = spark.createDataFrame(rows, "doc long, band int, key string")
    plain = dedup.banded_pairs(exploded, hot_threshold=10**9)
    guarded = dedup.banded_pairs(
        exploded, hot_threshold=hot_threshold, num_blocks=num_blocks
    )
    p = sorted((r["id_a"], r["id_b"]) for r in plain.collect())
    g = sorted((r["id_a"], r["id_b"]) for r in guarded.collect())
    assert p == g


@SETTINGS
@given(
    changes=st.lists(
        st.tuples(st.integers(0, 30), st.sampled_from(["U", "I", "D"])),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    )
)
def test_snapshot_diff_roundtrips_merge(spark, changes):
    """diff(old, merge_apply(old, src)) must recover exactly src's ops:
    U for changed existing keys, I for new keys, D for deleted keys —
    on arbitrary change sets."""
    from pyspark_data_processing_challenge_spark.operators import cdc

    old = spark.createDataFrame(
        [(k, f"v{k}") for k in range(20)], "k long, v string"
    )
    src_rows, expect = [], {}
    for key, op in changes:
        exists = key < 20
        if op == "D":
            if not exists:
                continue  # deleting a non-row is a no-op; skip
            src_rows.append((key, "whatever", "D"))
            expect[key] = "D"
        elif op == "I":
            if exists:
                continue
            src_rows.append((key, f"new{key}", "I"))
            expect[key] = "I"
        else:
            if not exists:
                continue
            src_rows.append((key, f"changed{key}", "U"))
            expect[key] = "U"
    if not src_rows:
        return
    src = spark.createDataFrame(src_rows, "k long, v string, op string")
    new = cdc.merge_apply(old, src, ["k"])
    got = {
        r["k"]: r["op"]
        for r in cdc.snapshot_diff(old, new, ["k"], ["v"]).collect()
    }
    assert got == expect


@SETTINGS
@given(
    values=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=4, max_size=40
    ),
    buckets=st.integers(min_value=2, max_value=5),
)
def test_order_statistics_ntile_equivalence(spark, values, buckets):
    """ntile_assign (approx-bracket + exact refine, no global sort) must
    equal window ntile for ANY value multiset — negatives, heavy ties,
    every n mod buckets residue — because the (value, key) order is
    total. accuracy=50 deliberately widens sketch brackets."""
    from pyspark.sql import Window

    from pyspark_data_processing_challenge_spark.operators import selection

    df = spark.createDataFrame(
        [(float(v), i) for i, v in enumerate(values)], "v double, k long"
    )
    got = selection.ntile_assign(df, "v", "k", buckets, accuracy=50)
    w = Window.orderBy(F.col("v").desc(), F.col("k"))
    want = df.select(
        "k", F.ntile(buckets).over(w).cast("long").alias("bucket")
    )
    g = {r["k"]: r["bucket"] for r in got.select("k", "bucket").collect()}
    e = {r["k"]: r["bucket"] for r in want.collect()}
    assert g == e


@SETTINGS
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from(list("abcdefg ")), min_size=0, max_size=40
        ),
        min_size=2,
        max_size=10,
    )
)
def test_prefix_filter_join_complete_on_random_corpora(spark, texts):
    """AllPairs + PPJoin filters must find EXACTLY the brute-force
    pair set (completeness AND precision) on arbitrary text corpora —
    including empty docs, all-identical docs, and single-token docs."""
    from pyspark_data_processing_challenge_spark.operators.dedup import (
        prefix_filter_pairs,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in prefix_filter_pairs(df, "text", "doc_id").collect()
    }

    def shingle_set(t: str) -> frozenset:
        toks = t.lower().split()
        if not toks:
            return frozenset()
        if len(toks) < 3:
            return frozenset({" ".join(toks)})
        return frozenset(
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        )

    sets = {i: shingle_set(t) for i, t in rows}
    expected = set()
    for a in range(len(rows)):
        for b in range(a + 1, len(rows)):
            inter = len(sets[a] & sets[b])
            uni = len(sets[a] | sets[b])
            if uni > 0 and 5 * inter >= 3 * uni:
                expected.add((a, b))
    assert got == expected


@SETTINGS
@given(
    # negative keys included: the join path's _pos uses pmod so both
    # probe forms stay bit-identical on arbitrary surrogate-id domains
    # (r15 advice: Spark % keeps the dividend sign, numpy % does not)
    keys=st.lists(
        st.integers(min_value=-(10**6), max_value=10**6).filter(bool),
        min_size=1,
        max_size=40,
    ),
    probes=st.lists(
        st.integers(min_value=-(10**6), max_value=10**6).filter(bool),
        min_size=1,
        max_size=40,
    ),
)
def test_bloom_filter_no_false_negatives(spark, keys, probes):
    """Every key inserted into the Bloom filter must pass the probe —
    the zero-false-negative guarantee pruning correctness rests on —
    and the collected-word UDF probe must agree with the join probe on
    EVERY key, negatives included."""
    from pyspark_data_processing_challenge_spark.operators import bloom

    dim = spark.createDataFrame([(k,) for k in set(keys)], "key long")
    words = bloom.build_bloom(dim, "key")
    fact = spark.createDataFrame(
        [(x,) for x in set(keys) | set(probes)], "key long"
    )
    out = {r["key"]: r["bloom_pass"] for r in bloom.bloom_probe(
        fact, words, "key"
    ).collect()}
    for k in set(keys):
        assert out[k] is True
    probe_udf = bloom.bloom_probe_udf(
        [(r["w"], r["bits"]) for r in words.collect()]
    )
    udf_out = {
        r["key"]: r["p"]
        for r in fact.select("key", probe_udf("key").alias("p")).collect()
    }
    assert udf_out == out


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=8),
        ),
        min_size=0,
        max_size=20,
    )
)
def test_triangle_stats_matches_bruteforce(spark, edges):
    """Degree-oriented counting equals the O(n^3) reference on random
    small graphs (self-loops dropped, duplicate edges collapsed)."""
    from pyspark_data_processing_challenge_spark.operators.graph import (
        triangle_stats,
    )

    und = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    if not und:
        return
    df = spark.createDataFrame(sorted(und), "u long, v long")
    row = triangle_stats(df).collect()[0]
    nodes = sorted({n for e in und for n in e})
    adj = {n: set() for n in nodes}
    for u, v in und:
        adj[u].add(v)
        adj[v].add(u)
    tri = sum(
        1
        for i, a in enumerate(nodes)
        for b in nodes[i + 1 :]
        if b in adj[a]
        for c in nodes
        if c > b and c in adj[a] and c in adj[b]
    )
    wedges = sum(len(adj[n]) * (len(adj[n]) - 1) // 2 for n in nodes)
    assert row.n_triangles == tri
    assert row.n_wedges == wedges
    assert row.n_nodes == len(nodes) and row.n_edges == len(und)


@SETTINGS
@given(
    tokens=st.lists(
        st.text(alphabet=st.sampled_from(list("xyz")), min_size=1, max_size=4),
        min_size=1,
        max_size=50,
    )
)
def test_cms_is_one_sided(spark, tokens):
    """Count-min estimates never under-count: min over rows of the
    cell values >= the true frequency for EVERY key."""
    from collections import Counter

    from pyspark.sql import functions as SF

    from pyspark_data_processing_challenge_spark.functions.textfns import (
        MINHASH_P,
        char_hash,
        minhash_coeffs,
    )
    from pyspark_data_processing_challenge_spark.operators import sketches

    truth = Counter(tokens)
    counts = spark.createDataFrame(
        [(t, c) for t, c in truth.items()], "tok string, cnt long"
    )
    cells = {
        (r["d"], r["bucket"]): r["c"]
        for r in sketches.cms_cells(
            counts, key_col="tok", count_col="cnt"
        ).collect()
    }
    hashes = {
        r["tok"]: r["h"]
        for r in counts.select(
            "tok", char_hash(SF.col("tok")).alias("h")
        ).collect()
    }
    coeffs = minhash_coeffs(sketches.CMS_D, seed=sketches.CMS_SEED)
    for tok, true_c in truth.items():
        est = min(
            cells[(d, ((a * hashes[tok] + b) % MINHASH_P) % sketches.CMS_W)]
            for d, (a, b) in enumerate(coeffs)
        )
        assert est >= true_c


@SETTINGS
@given(
    fact=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.integers(min_value=0, max_value=100),
        ),
        min_size=1,
        max_size=25,
    ),
    dim=st.lists(st.integers(min_value=0, max_value=8), min_size=1, max_size=8),
)
def test_salted_join_equals_plain_join(spark, fact, dim):
    """Salting must never change the joined row multiset — including
    dim keys with no fact rows, fact keys with no dim match, and
    duplicate dim rows (each must still multiply the fact side)."""
    from collections import Counter

    from pyspark_data_processing_challenge_spark.operators.skew import (
        salted_join,
    )

    f = spark.createDataFrame(fact, "k long, payload long")
    d = spark.createDataFrame([(k, k * 10) for k in dim], "k long, attr long")
    got = Counter(
        (r["k"], r["payload"], r["attr"])
        for r in salted_join(f, d, "k", buckets=4).collect()
    )
    want = Counter(
        (r["k"], r["payload"], r["attr"]) for r in f.join(d, "k").collect()
    )
    assert got == want


@settings(max_examples=120, deadline=None)
@given(data=st.binary(min_size=0, max_size=6000))
def test_gif_lzw_roundtrip_property(data):
    """LZW encode/decode must be a lossless bijection on arbitrary
    byte strings — hypothesis drives the code-width bumps, KwKwK
    self-references, and (at larger sizes) 4096-dictionary resets that
    hand-picked cases under-sample."""
    from pyspark_data_processing_challenge_spark.operators import multimodal

    enc = multimodal._lzw_gif_encode(data)
    assert multimodal._lzw_gif_decode(enc) == data


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_gif_container_roundtrip_property(w, h, seed):
    """Full GIF container roundtrip at arbitrary dims/content."""
    import random

    from pyspark_data_processing_challenge_spark.operators import multimodal

    pix = bytes(random.Random(seed).randrange(256) for _ in range(w * h))
    assert multimodal.decode_gif_gray(
        multimodal.encode_gif_gray(w, h, pix)
    ) == (w, h, pix)


def test_semdedup_mega_cluster_does_not_quadratize(spark):
    """A planted mega-cluster (every vector assigned to ONE centroid)
    must be split into ceil(size/cap) sub-buckets before the pair
    join: with n=400 ids 0..399, cap=50 → 8 sub-buckets of exactly 50
    (id % 8), so the candidate count is 8·C(50,2) = 9 800 — not
    C(400,2) = 79 800. threshold=-2 passes every candidate, making the
    output count THE candidate count."""
    from pyspark_data_processing_challenge_spark.operators import similarity

    n, cap = 400, 50
    rows = [(i, [1.0, float(i % 3 + 1)], 0) for i in range(n)]
    assigned = spark.createDataFrame(
        rows, "doc bigint, vec array<double>, centroid_id bigint"
    )
    got = similarity.semdedup_pairs(
        assigned, threshold=-2.0, max_cluster=cap
    ).count()
    nsplits = (n + cap - 1) // cap
    per = n // nsplits
    assert got == nsplits * per * (per - 1) // 2 == 9800
    assert got < 0.15 * n * (n - 1) // 2


def test_semdedup_no_split_below_cap(spark):
    """Below the cap the split is the identity: nsplits=1, sub=0 for
    every row — pairs equal the plain within-cluster join."""
    from pyspark_data_processing_challenge_spark.operators import similarity

    rows = [(i, [1.0, float(i + 1)], i % 3) for i in range(30)]
    assigned = spark.createDataFrame(
        rows, "doc bigint, vec array<double>, centroid_id bigint"
    )
    got = similarity.semdedup_pairs(
        assigned, threshold=-2.0, max_cluster=100
    ).count()
    want = sum(
        c * (c - 1) // 2
        for c in [len([i for i in range(30) if i % 3 == k]) for k in range(3)]
    )
    assert got == want


def test_bootstrap_ci_width_contract(spark):
    """The Poisson-bootstrap statistical contract (beyond the
    hash-pinned point values): (1) CI width shrinks ~1/sqrt(n) with
    SAMPLE size — a 1/16 subsample's CI is decisively wider than the
    full table's; (2) replica count only refines the SAME width
    estimate — B=64's width stays within 3x of B=16's, not a shrink;
    (3) every CI brackets the point mean."""
    from pyspark_data_processing_challenge_spark.queries import analytics as an
    from tests.conftest import SF_DIR

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("cents"),
    ).cache()
    point = o.agg(
        (F.sum("cents").cast("double") / F.count(F.lit(1)) / 100.0).alias("p")
    ).first()["p"]

    def width(df, replicas):
        ms = sorted(
            r["m"]
            for r in an.poisson_bootstrap_means(
                df, id_col="o_orderkey", cents_col="cents", replicas=replicas
            ).collect()
        )
        lo, hi = ms[1], ms[-2]  # ~5th/95th order-statistic cut
        return lo, hi, hi - lo

    lo32, hi32, w_full = width(o, 32)
    assert lo32 <= point <= hi32  # (3) coverage of the point estimate

    sub = o.filter(F.col("o_orderkey") % 16 == 0)
    _, _, w_sub = width(sub, 32)
    # (1) n shrinks 16x -> width grows ~4x; require a decisive factor
    assert w_sub > 2.0 * w_full

    _, _, w16 = width(o, 16)
    _, _, w64 = width(o, 64)
    # (2) replicas refine, not shrink: same order of magnitude
    assert w64 < 3.0 * w16 and w16 < 3.0 * w64
    o.unpersist()


def _write_docs(spark, path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{path}/documents.parquet")


def test_gopher_rules_on_planted_docs(spark, tmp_path):
    """Semantic contract on planted inputs (the corpus-level parity
    test can't isolate single rules): a clean 60-word English doc
    passes every gate; a symbol-spam fragment fails word count, symbol
    ratio, alpha share, and stopword floor — and the emitted verdicts
    say exactly which."""
    from pyspark_data_processing_challenge_spark.queries import llm

    good = ("the quick brown fox jumps over lazy dogs and cats " * 6).strip()
    bad = "#### ####"
    _write_docs(
        spark,
        tmp_path,
        [(1, good, "en", "web", len(good)), (2, bad, "web", "web", len(bad))],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in llm.docs_gopher_rules(spark, str(tmp_path)).collect()
    }
    g, b = out[1], out[2]
    assert g["passes"] and all(
        g[k] for k in g if k.startswith("rule_")
    )
    assert not b["passes"]
    assert not b["rule_word_count"]  # 2 words < 50
    assert not b["rule_symbol_ratio"]  # 8 hashes over 2 words
    assert not b["rule_alpha_words"]  # no alphabetic token
    assert not b["rule_stopwords"]  # no English markers


def test_dsir_scores_target_like_docs_higher(spark, tmp_path):
    """The DSIR contract: documents drawn from the target distribution
    (lang='en' vocabulary) must out-score documents with disjoint
    vocabulary — every planted en doc above every planted zh doc."""
    from pyspark_data_processing_challenge_spark.queries import llm

    en = [(i, "alpha beta gamma alpha beta", "en", "web", 27) for i in range(3)]
    zh = [(10 + i, "omega sigma tau omega sigma", "zh", "web", 27) for i in range(2)]
    _write_docs(spark, tmp_path, en + zh)
    rows = {
        r["doc_id"]: r["avg_log_ratio"]
        for r in llm.docs_dsir_weights(spark, str(tmp_path)).collect()
    }
    assert min(rows[i] for i in (0, 1, 2)) > max(rows[i] for i in (10, 11))
    assert all(rows[i] > 0 for i in (0, 1, 2))  # target-like is positive


# --- k-core peeling vs brute force (VERDICT r08 item 8) --------------

edge_lists = st.lists(
    st.tuples(st.integers(0, 11), st.integers(0, 11)).filter(
        lambda t: t[0] != t[1]
    ),
    min_size=1,
    max_size=20,
)


def _brute_kcore(edges: list[tuple[int, int]], k: int):
    """Synchronous peel to fixpoint, mirroring graph.kcore's round
    semantics (drop ALL sub-k nodes at once, then restrict edges).
    Returns ({node: deg}, depth) where depth = rounds until a pass
    removes nothing."""
    es = {tuple(sorted(e)) for e in edges}
    depth = 0
    while True:
        deg: dict[int, int] = {}
        for u, v in es:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        drop = {n for n, d in deg.items() if d < k}
        if not drop:
            return deg, depth
        depth += 1
        es = {e for e in es if e[0] not in drop and e[1] not in drop}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edge_lists, k=st.sampled_from([2, 3]))
def test_kcore_convergence_flag_vs_brute_force(spark, edges, k):
    """Planted-depth property: with rounds >= the true peel depth the
    output must equal the brute-force k-core AND flag converged; with
    rounds < depth it must flag converged=False (a partial peel is not
    the k-core). The existing chain test pins one instance; this pins
    the contract on arbitrary small graphs."""
    from pyspark_data_processing_challenge_spark.operators import graph

    # canonicalize to a DISTINCT undirected edge list — the operator's
    # input contract (near-dup pair lists are distinct pairs); a
    # duplicated edge would double-count degree on the Spark side
    edges = sorted({tuple(sorted(t)) for t in edges})
    expect, depth = _brute_kcore(edges, k)
    e = spark.createDataFrame(edges, "u long, v long")

    done = graph.kcore(e, k=k, rounds=depth + 1).collect()
    assert {r.node: r.deg for r in done} == expect
    assert all(r.converged for r in done)

    if depth > 1:
        partial = graph.kcore(e, k=k, rounds=depth - 1).collect()
        # sub-k survivors must exist (the peel was not finished) and
        # the flag must say so on every row
        assert partial and all(not r.converged for r in partial)
        # re-running with enough rounds reaches the true k-core —
        # the recovery path the flag exists to enable
        redo = graph.kcore(e, k=k, rounds=depth).collect()
        assert {r.node: r.deg for r in redo} == expect


def test_plant_guard_raises_on_id_collision(spark):
    """The planted-duplicate corpora (_perturbed_docs, the funnel's
    triple corpus) put copies at doc_id + 100000/200000; the guard must
    fail LOUDLY — not silently corrupt the funnel counts — once base
    doc_ids reach the copy band (r10 advice). Executor-side assert_true,
    no driver collect."""
    import pytest as _pytest

    from pyspark_data_processing_challenge_spark.queries.llm import (
        _plant_guarded,
    )

    ok = spark.createDataFrame([(1, "a"), (99999, "b")], "doc_id long, text string")
    rows = _plant_guarded(ok).collect()
    assert sorted((r.doc_id, r.text) for r in rows) == [(1, "a"), (99999, "b")]
    bad = spark.createDataFrame([(1, "a"), (100000, "b")], "doc_id long, text string")
    with _pytest.raises(Exception, match="planted-duplicate id convention"):
        # collect (not count) — the guard rides the text expression, so
        # it fires wherever text is consumed; count() prunes text away
        _plant_guarded(bad).collect()

    # the r11 regression shape: the guarded corpus joined against a
    # relation whose ids LEGITIMATELY live in the copy band must not
    # detonate (InferFiltersFromConstraints relocated the old
    # Filter-based assert through the join equality)
    comp = spark.createDataFrame(
        [(100001, 1)], "node long, component long"
    ).select(F.col("node").alias("doc_id"), "component")
    joined = _plant_guarded(ok).join(comp, "doc_id", "left_anti")
    assert joined.count() == 2


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.one_of(st.none(), st.sampled_from(["a", "b", "x"])),
            st.one_of(st.none(), st.integers(min_value=-3, max_value=3)),
        ),
        min_size=1,
        max_size=24,
    )
)
def test_drop_duplicate_rows_narrow_equals_wide(spark, rows):
    """The narrow-shuffle two-pass form of whole-row exact dedup must be
    SET-identical to the wide form and to dropDuplicates() on any input
    — duplicates, nulls (position-tagged by the fingerprint), and
    all-duplicate corpora (where the dup-fp broadcast carries every
    group) included."""
    from pyspark_data_processing_challenge_spark.operators import dedup

    df = spark.createDataFrame(
        [(int(k), s, v) for k, s, v in rows], "k long, s string, v int"
    )

    def rowset(frame):  # None-safe canonical ordering
        return sorted(
            map(tuple, frame.collect()),
            key=lambda t: tuple((x is None, x) for x in t),
        )

    expect = rowset(df.dropDuplicates())
    narrow = rowset(dedup.drop_duplicate_rows(df, shuffle="narrow"))
    wide = rowset(dedup.drop_duplicate_rows(df))
    assert narrow == expect
    assert wide == expect
    # subset-keyed twin: one survivor per key group in both forms, and
    # the surviving KEY sets agree (survivor's other columns are
    # arbitrary in both, as in upstream dropDuplicates)
    narrow_k = sorted(
        r.k for r in dedup.drop_duplicate_rows(df, ["k"], shuffle="narrow").collect()
    )
    wide_k = sorted(r.k for r in dedup.drop_duplicate_rows(df, ["k"]).collect())
    assert narrow_k == wide_k == sorted({int(k) for k, _, _ in rows})
