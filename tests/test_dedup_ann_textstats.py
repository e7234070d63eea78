"""Dedup / ANN / text-stats / RND operators against independent oracles."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from whoiswho_spark.operators.ann import brute_force_topk, lsh_bucketed_topk
from whoiswho_spark.operators.dedup import (
    exact_dedup,
    minhash_dup_pairs,
    ngram_jaccard_pairs,
    simhash_dup_pairs,
)
from whoiswho_spark.operators.multimodal import extract_media_meta
from whoiswho_spark.operators.rnd import (
    deterministic_sample,
    ordered_split,
    top1_assign,
)


def _docs(spark):
    rows = [
        (1, "alpha beta gamma delta", "s1"),
        (2, "alpha beta gamma delta", "s1"),     # exact dup of 1
        (3, "alpha beta gamma epsilon", "s1"),   # near dup of 1
        (4, "totally different words here", "s1"),
        (5, "alpha beta gamma delta", "s2"),     # exact dup, other block
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string, source string")


def test_exact_dedup(spark):
    got = {r["keep_id"]: r["n_dups"] for r in exact_dedup(_docs(spark)).collect()}
    assert got[1] == 3  # docs 1,2,5 share text
    assert got[3] == 1 and got[4] == 1


def test_minhash_dup_pairs_finds_exact_dups(spark):
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_dup_pairs(_docs(spark)).collect()}
    assert (1, 2) in pairs and (1, 5) in pairs and (2, 5) in pairs
    assert (1, 4) not in pairs


def test_ngram_jaccard_pairs(spark):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(_docs(spark), "source", threshold=0.5).collect()
    }
    assert got[(1, 2)] == 1.0
    assert abs(got[(1, 3)] - 3 / 5) < 1e-9  # |∩|=3, |∪|=5
    assert (1, 4) not in got  # jaccard 0
    assert (1, 5) not in got  # different block


def test_simhash_exact_dups_distance_zero(spark):
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_dup_pairs(_docs(spark), "source", max_hamming=64).collect()
    }
    assert got[(1, 2)] == 0
    assert got[(1, 3)] <= got[(1, 4)]  # near-dup closer than unrelated


def test_brute_force_topk_vs_numpy(spark):
    rs = np.random.RandomState(0)
    vecs = rs.randn(20, 8)
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(20)],
        "vec_id bigint, embedding array<double>",
    )
    got = brute_force_topk(df.where("vec_id < 3"), df, k=4).collect()
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    for q in range(3):
        order = sorted(
            (i for i in range(20) if i != q),
            key=lambda i: (-round(sims[q, i], 6), i),
        )[:4]
        mine = [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"]) if r["query_id"] == q]
        assert mine == order, q


def test_ivf_topk_recall(spark):
    """IVF with full probing is exact; with partial probing recall on
    clustered data stays high (planted-cluster embeddings)."""
    from whoiswho_spark.operators.ann import ann_recall_at_k, brute_force_topk, ivf_topk

    rs = np.random.RandomState(5)
    rows = []
    vid = 0
    for ent in range(10):
        c = rs.randn(16)
        c /= np.linalg.norm(c)
        for _ in range(8):
            v = c + 0.05 * rs.randn(16)
            rows.append((vid, [float(x) for x in v / np.linalg.norm(v)]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    queries = df.where("vec_id < 10")
    exact = brute_force_topk(queries, df, k=5)
    full = ivf_topk(queries, df, n_centroids=4, n_probe=4, k=5)
    assert ann_recall_at_k(full, exact, 5) == 1.0  # full probe == exact
    part = ivf_topk(queries, df, n_centroids=4, n_probe=1, k=5)
    assert ann_recall_at_k(part, exact, 5) >= 0.8  # near-dups share cells


def test_lsh_topk_same_bucket_recall(spark):
    # identical vectors land in the same bucket and find each other
    base = [float(x) for x in np.arange(8) / 10.0]
    df = spark.createDataFrame(
        [(i, base) for i in range(5)], "vec_id bigint, embedding array<double>"
    )
    got = lsh_bucketed_topk(df.where("vec_id = 0"), df, dim=8, k=4, n_planes=4).collect()
    assert {r["neighbor_id"] for r in got} == {1, 2, 3, 4}


def test_score_pairs_arrow_equals_catalyst(spark):
    """The fused Arrow feature UDF is a physical rewrite of the Catalyst
    expression plan — same features, same scores (fp tolerance)."""
    from whoiswho_spark.operators.scoring import score_pairs

    rs = np.random.RandomState(3)
    rows = []
    for i in range(60):
        e1 = [float(x) for x in rs.randn(8)]
        e2 = [float(x) for x in rs.randn(8)]
        t1 = " ".join(rs.choice(list("abcdefgh"), 5))
        t2 = " ".join(rs.choice(list("abcdefgh"), 5))
        rows.append(
            (f"a{i}", f"b{i}", t1, t2, t1.split(), t2.split(),
             (t1 * 3).split(), (t2 * 2).split(), e1, e2)
        )
    pairs = spark.createDataFrame(
        rows,
        "url_a string, url_b string, title_a string, title_b string, "
        "title_tokens_a array<string>, title_tokens_b array<string>, "
        "text_tokens_a array<string>, text_tokens_b array<string>, "
        "embedding_a array<double>, embedding_b array<double>",
    )
    cols = ["url_a", "f_emb_dot", "f_text_tanimoto", "f_title_cos3",
            "f_title_common", "score"]
    a = {r["url_a"]: r for r in score_pairs(pairs, engine="arrow").select(cols).collect()}
    c = {r["url_a"]: r for r in score_pairs(pairs, engine="catalyst").select(cols).collect()}
    assert a.keys() == c.keys()
    for k in a:
        for col in cols[1:]:
            assert abs(a[k][col] - c[k][col]) < 1e-9, (k, col)


def test_score_pairs_memo_hits_and_cap_clears_equal_catalyst(spark, monkeypatch):
    """The page-profile memo path: pairs that REPEAT urls (cache hits)
    and a cap small enough to force mid-batch clear-and-refill must both
    produce features identical to the Catalyst plan."""
    import whoiswho_spark.operators.scoring as scoring

    monkeypatch.setattr(scoring, "MEMO_CAP", 4)
    rs = np.random.RandomState(11)
    pages = {}
    for i in range(12):
        t = " ".join(rs.choice(list("abcdefgh"), 5))
        pages[f"p{i}"] = (t, t.split(), (t * 3).split(),
                          [float(x) for x in rs.randn(8)])
    rows = []
    ids = list(pages)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            (ta, tta, xta, ea), (tb, ttb, xtb, eb) = pages[ids[i]], pages[ids[j]]
            rows.append((ids[i], ids[j], ta, tb, tta, ttb, xta, xtb, ea, eb))
    pairs = spark.createDataFrame(
        rows,
        "url_a string, url_b string, title_a string, title_b string, "
        "title_tokens_a array<string>, title_tokens_b array<string>, "
        "text_tokens_a array<string>, text_tokens_b array<string>, "
        "embedding_a array<double>, embedding_b array<double>",
    ).coalesce(1)  # one batch → memo exercises hits AND cap clears
    cols = ["url_a", "url_b", "f_emb_dot", "f_text_tanimoto",
            "f_title_cos3", "f_title_common", "score"]
    a = {(r["url_a"], r["url_b"]): r
         for r in scoring.score_pairs(pairs, engine="arrow").select(cols).collect()}
    c = {(r["url_a"], r["url_b"]): r
         for r in scoring.score_pairs(pairs, engine="catalyst").select(cols).collect()}
    assert a.keys() == c.keys() and len(a) == 66
    for k in a:
        for col in cols[2:]:
            assert abs(a[k][col] - c[k][col]) < 1e-9, (k, col)


def test_blas_plans_match_join_plans(spark):
    """The broadcast-matmul kernels are physical rewrites — results must
    equal the join-plan operators exactly."""
    from whoiswho_spark.operators.ann import (
        brute_force_topk_blas,
        embedding_neardup_pairs,
        embedding_neardup_pairs_blas,
    )

    rs = np.random.RandomState(7)
    vecs = rs.randn(50, 16)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id bigint, embedding array<double>",
    )
    j = {(r["id_a"], r["id_b"], r["cos"])
         for r in embedding_neardup_pairs(df, threshold=0.3).collect()}
    b = {(r["id_a"], r["id_b"], r["cos"])
         for r in embedding_neardup_pairs_blas(df, threshold=0.3).collect()}
    assert j == b and len(b) > 0

    t1 = {(r["query_id"], r["rank"]): r["neighbor_id"]
          for r in brute_force_topk(df.where("vec_id < 5"), df, k=3).collect()}
    t2 = {(r["query_id"], r["rank"]): r["neighbor_id"]
          for r in brute_force_topk_blas(df.where("vec_id < 5"), df, k=3).collect()}
    assert t1 == t2


def test_top1_assign_nan_never_wins(spark):
    """Spark orders NaN above every number and NaN >= t is true — a NaN
    score must neither win the argmax nor pass the NIL gate."""
    scored = spark.createDataFrame(
        [("i1", "bad", float("nan")), ("i1", "good", 0.9),
         ("i2", "only", float("nan"))],
        "item string, cand string, score double",
    )
    got = {r["item"]: r["cand"]
           for r in top1_assign(scored, "item", "cand", threshold=0.5).collect()}
    assert got == {"i1": "good"}  # i2 drops out as NIL


def test_top1_assign_threshold_and_ties(spark):
    scored = spark.createDataFrame(
        [("i1", "c1", 0.9), ("i1", "c2", 0.9), ("i2", "c3", 0.4)],
        "item string, cand string, score double",
    )
    got = {r["item"]: r["cand"] for r in top1_assign(scored, "item", "cand", threshold=0.65).collect()}
    assert got == {"i1": "c1"}  # tie → min cand; i2 below threshold → NIL


def test_ordered_split_buckets(spark):
    rows = [("a", i, f"2020-01-{i + 1:02d}") for i in range(10)]
    df = spark.createDataFrame(rows, "k string, id int, d string")
    got = {r["id"]: r["bucket"] for r in ordered_split(df, "k", "d", "id", 5).collect()}
    assert [got[i] for i in range(10)] == [1, 1, 2, 2, 3, 3, 4, 4, 5, 5]


def test_deterministic_sample_stable(spark):
    df = spark.createDataFrame(
        [("k", i) for i in range(50)], "part string, id int"
    )
    a = sorted(r["id"] for r in deterministic_sample(df, "part", "id", 5).collect())
    b = sorted(r["id"] for r in deterministic_sample(df, "part", "id", 5).collect())
    assert a == b and len(a) == 5


def _png_bytes(w, h):
    import struct

    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">II", w, h)
        + b"\x08\x02\x00\x00\x00"
    )


def _jpeg_bytes(w, h, with_app0=True, with_tables=False):
    import struct

    out = b"\xff\xd8"
    if with_app0:  # a skippable APP0 segment before the frame
        out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    if with_tables:
        # DQT then DHT before SOF0, the order real encoders write; the
        # quant table holds 0xFF/0xC0 bytes, so only a length-skipping
        # walk (not a byte scan for a SOF marker) finds the real frame
        dqt = b"\x00" + bytes([0xFF, 0xC0, 0x00, 0x11] + [16] * 60)
        out += b"\xff\xdb" + struct.pack(">H", 2 + len(dqt)) + dqt
        counts = [0, 1, 5, 1, 1, 1, 1, 1, 1] + [0] * 7
        dht = b"\x00" + bytes(counts) + bytes(range(sum(counts)))
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    out += b"\xff\xc0" + struct.pack(">HBHH", 17, 8, h, w) + b"\x00" * 10
    return out


def _gif_bytes(w, h):
    import struct

    return b"GIF89a" + struct.pack("<HH", w, h)


def test_parse_media_header_real_decoders():
    from whoiswho_spark.operators.multimodal import decode_media, parse_media_header

    assert parse_media_header(_png_bytes(640, 480)) == {
        "media_type": "image/png", "width": 640, "height": 480,
    }
    assert parse_media_header(_jpeg_bytes(1024, 768)) == {
        "media_type": "image/jpeg", "width": 1024, "height": 768,
    }
    # DQT/DHT tables before the frame, non-square: width and height
    # come from their own SOF0 fields, not from table bytes or each other
    assert parse_media_header(_jpeg_bytes(34, 21, with_tables=True)) == {
        "media_type": "image/jpeg", "width": 34, "height": 21,
    }
    # 0xFF fill bytes and the length-less TEM marker may precede a segment
    padded = _jpeg_bytes(34, 21, with_tables=True)
    padded = padded[:2] + b"\xff\xff\xff\x01\xff\xff" + padded[2:]
    assert parse_media_header(padded)["width"] == 34
    assert parse_media_header(_png_bytes(34, 21)) == {
        "media_type": "image/png", "width": 34, "height": 21,
    }
    # SOF2 (progressive) also carries dimensions
    prog = _jpeg_bytes(33, 44).replace(b"\xff\xc0", b"\xff\xc2")
    assert parse_media_header(prog)["width"] == 33
    assert parse_media_header(_gif_bytes(320, 200)) == {
        "media_type": "image/gif", "width": 320, "height": 200,
    }
    assert parse_media_header(b"plain text")["media_type"] == "application/octet-stream"
    assert parse_media_header(None)["width"] is None
    import hashlib

    m = decode_media(_png_bytes(2, 3))
    assert m["n_bytes"] == 29 and m["checksum"] == hashlib.md5(_png_bytes(2, 3)).hexdigest()


def test_media_meta_real_decode_roundtrip(spark):
    """Catalyst-built synthetic binaries → mapInPandas header decode →
    the dimensions that went in must come back out."""
    import pyspark.sql.functions as F

    from whoiswho_spark.operators.multimodal import (
        extract_media_meta,
        synthetic_media_payload_col,
    )

    docs = spark.createDataFrame(
        [(i, 100 + i * 37, 7 + i) for i in range(9)], "doc_id bigint, w int, h int"
    )
    payloads = docs.select(
        "doc_id",
        synthetic_media_payload_col(
            F.pmod(F.col("doc_id"), F.lit(3)), F.col("w"), F.col("h")
        ).alias("payload"),
    )
    got = {r["doc_id"]: r for r in extract_media_meta(payloads).collect()}
    kinds = {0: "image/png", 1: "image/jpeg", 2: "image/gif"}
    for i in range(9):
        assert got[i]["media_type"] == kinds[i % 3], i
        assert got[i]["width"] == 100 + i * 37, i
        assert got[i]["height"] == 7 + i, i

    # raw python fixtures through the same stage (non-synthetic payloads)
    raw = spark.createDataFrame(
        [(100, bytearray(_gif_bytes(12, 34))), (101, bytearray(b""))],
        "doc_id bigint, payload binary",
    )
    got2 = {r["doc_id"]: r for r in extract_media_meta(raw).collect()}
    assert (got2[100]["width"], got2[100]["height"]) == (12, 34)
    assert got2[101]["media_type"] == "application/octet-stream"
    assert got2[101]["width"] is None and got2[101]["n_bytes"] == 0


def test_sharded_plans_match_blas_plans(spark):
    """The sharded (no-driver-collect) kernels are physical rewrites of the
    broadcast-matmul kernels — identical results required."""
    from whoiswho_spark.operators.ann import (
        brute_force_topk_blas,
        embedding_neardup_pairs_blas,
        sharded_neardup_pairs,
        sharded_topk,
    )

    rs = np.random.RandomState(13)
    vecs = rs.randn(60, 16)
    vecs[7] = vecs[3]  # exact dup → cos-tie at the boundary
    vecs[11] = 0.0     # zero vector → degenerate norm path
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id bigint, embedding array<double>",
    )
    b = {(r["id_a"], r["id_b"], r["cos"])
         for r in embedding_neardup_pairs_blas(df, threshold=0.3).collect()}
    s = {(r["id_a"], r["id_b"], r["cos"])
         for r in sharded_neardup_pairs(df, threshold=0.3, n_shards=5).collect()}
    assert s == b and len(s) > 0

    t1 = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos"])
          for r in brute_force_topk_blas(df.where("vec_id < 6"), df, k=4).collect()}
    t2 = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos"])
          for r in sharded_topk(df.where("vec_id < 6"), df, k=4, n_shards=5).collect()}
    assert t1 == t2 and len(t1) == 24


def test_topk_boundary_ties_prefer_smaller_id(spark):
    """With > k+1 candidates tied at the k-th cosine, the smallest ids win
    (the argpartition value-only select used to be able to drop them)."""
    from whoiswho_spark.operators.ann import brute_force_topk_blas, sharded_topk

    # query = e1; ten identical candidates (all cos=1), plus orthogonal noise
    rows = [(0, [1.0, 0.0])]
    rows += [(i, [2.0, 0.0]) for i in range(1, 11)]
    rows += [(i, [0.0, 1.0]) for i in range(11, 15)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    q = df.where("vec_id = 0")
    for fn in (brute_force_topk_blas, sharded_topk):
        got = sorted(
            (r["rank"], r["neighbor_id"]) for r in fn(q, df, k=3).collect()
        )
        assert got == [(1, 1), (2, 2), (3, 3)], fn.__name__


def test_minhash_size_conditional_salting_equals_plain(spark):
    """Salted-only-when-heavy must equal the unsalted join on a skewed
    corpus (one mega-bucket of identical docs + a long tail)."""
    from whoiswho_spark.operators.dedup import minhash_dup_pairs

    rows = [(i, "common boilerplate text shared by every heavy doc") for i in range(40)]
    rows += [(100 + i, f"unique tail document number {i} with words {i * 7}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    plain = {
        (r["id_a"], r["id_b"])
        for r in minhash_dup_pairs(df, salt_min_bucket=10**9).collect()
    }
    salted = {
        (r["id_a"], r["id_b"])
        for r in minhash_dup_pairs(df, n_salts=4, salt_min_bucket=8).collect()
    }
    assert salted == plain and len(plain) >= 40 * 39 / 2


@pytest.mark.parametrize("asym", [False, True])
def test_ngram_prefix_plan_matches_block_plan(spark, asym):
    """The prefix-filtered set-similarity join is an exact physical
    rewrite: identical pairs + jaccards, incl. boundary-threshold sets —
    in BOTH prefix regimes (symmetric τ-prefix and PPJoin asymmetric
    2τ/(1+τ) index prefix)."""
    from whoiswho_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    rows = [
        (1, "b", "alpha beta gamma delta"),
        (2, "b", "alpha beta gamma epsilon"),   # J=0.6 with 1
        (3, "b", "alpha beta"),                 # J=0.5 with 1? |i|=2,|u|=4 → 0.5
        (4, "b", "zeta eta theta"),
        (5, "b", "zeta eta theta"),             # exact dup → J=1
        (6, "c", "alpha beta gamma delta"),     # other block: no cross pairs
        (7, "b", "single"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    a = {(r["id_a"], r["id_b"], r["jaccard"])
         for r in ngram_jaccard_pairs(df, block_col="source").collect()}
    b = {(r["id_a"], r["id_b"], r["jaccard"])
         for r in ngram_jaccard_pairs_prefix(
             df, block_col="source", asymmetric=asym).collect()}
    assert a == b
    assert (4, 5, 1.0) in a and (1, 3, 0.5) in a
    assert all(x != 6 and y != 6 for x, y, _ in a)


@pytest.mark.parametrize("asym", [False, True])
def test_ngram_prefix_plan_random_corpora_parity(spark, asym):
    """5 random corpora × varied thresholds: the prefix-filtered join must
    equal the block join EXACTLY (pair sets + jaccards) — the no-false-
    negative prefix bound holds under adversarial token distributions,
    in both prefix regimes (size-heterogeneous docs stress the
    asymmetric plan's size orientation + tie-break)."""
    import random

    from whoiswho_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(30)]
    for trial, tau in enumerate((0.3, 0.5, 0.5, 0.7, 0.9)):
        rows = []
        for i in range(40):
            k = rng.randint(1, 12)
            rows.append(
                (i, rng.choice("ab"), " ".join(rng.sample(vocab, k)))
            )
        df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
        a = {(r["id_a"], r["id_b"], r["jaccard"])
             for r in ngram_jaccard_pairs(df, "source", threshold=tau).collect()}
        b = {(r["id_a"], r["id_b"], r["jaccard"])
             for r in ngram_jaccard_pairs_prefix(
                 df, "source", threshold=tau, asymmetric=asym).collect()}
        assert a == b, (trial, tau, a ^ b)


@pytest.mark.parametrize("n_vocab", [63, 64, 100])
def test_ngram_prefix_mask_regime_boundary_parity(spark, n_vocab):
    """Round 6: the verify representation switches at vocab ≤ 63 (64-bit
    rank bitmask + popcount) vs > 63 (int-rank arrays + array_intersect).
    Both regimes must equal the quadratic block plan exactly — pinned at
    the boundary (63 = last mask corpus, 64 = first array corpus) and at
    a comfortably-array 100-word vocab."""
    import random

    from whoiswho_spark.operators.dedup import (
        _dense_token_ranks,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
        tokens_col,
    )
    import pyspark.sql.functions as F

    rng = random.Random(n_vocab)
    vocab = [f"w{i}" for i in range(n_vocab)]
    rows = []
    for i in range(60):
        k = rng.randint(2, min(20, n_vocab))
        toks = rng.sample(vocab, k)
        rows.append((i, rng.choice("ab"), " ".join(toks)))
    # every vocab word must appear so the dense-rank count equals n_vocab;
    # the two full-vocab docs share a block → one guaranteed J=1.0 pair
    rows.append((997, "a", " ".join(vocab)))
    rows.append((998, "a", " ".join(vocab)))
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    # confirm the regime gate sees the intended vocabulary size
    t = df.select(F.array_distinct(tokens_col(F.col("text"))).alias("toks"))
    df_tbl = (
        t.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("_df"))
    )
    _, seen_vocab = _dense_token_ranks(df_tbl)
    assert seen_vocab == n_vocab
    a = {(r["id_a"], r["id_b"], r["jaccard"])
         for r in ngram_jaccard_pairs(df, block_col="source").collect()}
    b = {(r["id_a"], r["id_b"], r["jaccard"])
         for r in ngram_jaccard_pairs_prefix(df, block_col="source").collect()}
    assert a == b
    assert len(a) > 0


def test_ngram_prefix_mask_rank63_meet_parity(spark):
    """ANSI regression pin: at vocab = 63 the top rank's bit is the long
    sign bit, and a doc whose prefix holds the MOST COMMON token (rank
    63 in rarest-first order) puts tok=63 into the meet join — the
    ownership below-mask must not compute shiftleft(1,63)−1 (ANSI
    ARITHMETIC_OVERFLOW). Built so two single-most-common-token docs
    actually meet on rank 63 and must pair at J=1.0."""
    from whoiswho_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    vocab = [f"w{i:02d}" for i in range(63)]
    rows = [
        # every vocab word once → dense ranks cover 1..63
        (1, "b", " ".join(vocab)),
        (2, "b", " ".join(vocab)),
        # make w00 the clear most-common token (rank 63), then two docs
        # that consist ONLY of it: sz=1 ⇒ prefix = [rank 63]
        (3, "b", "w00 w00 w00 w00 w00"),
        (4, "b", "w00"),
        (5, "b", "w00"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    a = {(r["id_a"], r["id_b"], r["jaccard"])
         for r in ngram_jaccard_pairs(df, block_col="source").collect()}
    b = {(r["id_a"], r["id_b"], r["jaccard"])
         for r in ngram_jaccard_pairs_prefix(df, block_col="source").collect()}
    assert a == b
    assert (3, 4, 1.0) in a and (4, 5, 1.0) in a  # the rank-63 meets


def test_ngram_prefix_boundary_threshold_parity(spark):
    """Thresholds whose float product lands one ULP above the exact
    rational (0.28·25 → 7.000000000000001; same family at 0.56) used to
    shrink the prefix by one token via the raw float ceil. The integer-
    safe ceil (round-to-9dp first) keeps the prefix bound exact; gate:
    plan parity on corpora pinned to the affected sizes (25/50 tokens)
    with overlap families straddling the τ boundary."""
    import random

    from whoiswho_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(60)]
    for tau in (0.28, 0.56):
        rows = []
        base = rng.sample(vocab, 25)
        for i in range(30):
            # doc sizes pinned to 25/50-token shapes around the boundary
            sz = rng.choice((25, 25, 50, 20, 8))
            keep = rng.randint(max(1, sz - 8), sz)
            toks = base[: min(keep, 25)] + rng.sample(vocab, max(0, sz - keep))
            rows.append((i, "b", " ".join(dict.fromkeys(toks))))
        df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
        a = {(r["id_a"], r["id_b"], r["jaccard"])
             for r in ngram_jaccard_pairs(df, "source", threshold=tau).collect()}
        for asym in (False, True):
            b = {(r["id_a"], r["id_b"], r["jaccard"])
                 for r in ngram_jaccard_pairs_prefix(
                     df, "source", threshold=tau, asymmetric=asym).collect()}
            assert a == b, (tau, asym, a ^ b)
        assert len(a) > 0, tau  # the boundary families must actually pair


def test_sharded_ann_random_shapes_parity(spark):
    """Random shard counts (incl. P > distinct shards and P=1) against the
    join-plan near-dup operator and the windowed exact top-k."""
    from whoiswho_spark.operators.ann import (
        brute_force_topk,
        embedding_neardup_pairs,
        sharded_neardup_pairs,
        sharded_topk,
    )

    rs = np.random.RandomState(21)
    vecs = rs.randn(35, 8)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(35)],
        "vec_id bigint, embedding array<double>",
    )
    want_nd = {(r["id_a"], r["id_b"], r["cos"])
               for r in embedding_neardup_pairs(df, threshold=0.25).collect()}
    want_tk = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos"])
               for r in brute_force_topk(df.where("vec_id < 4"), df, k=3).collect()}
    for p in (1, 3, 64):
        got_nd = {(r["id_a"], r["id_b"], r["cos"])
                  for r in sharded_neardup_pairs(df, threshold=0.25, n_shards=p).collect()}
        assert got_nd == want_nd, p
        got_tk = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos"])
                  for r in sharded_topk(df.where("vec_id < 4"), df, k=3, n_shards=p).collect()}
        assert got_tk == want_tk, p


def test_media_frames_and_features_edges(spark):
    """sample_frames: short tails kept, empty payloads dropped, offsets
    bounded by max_frames; media_byte_features: known entropies;
    resize_plan: aspect preserved, never upscales."""
    from whoiswho_spark.operators.multimodal import (
        media_byte_features,
        resize_plan,
        sample_frames,
    )

    rows = [
        (1, bytearray(b"abcdefgh" * 10)),   # 80 bytes -> 4 frames (cap)
        (2, bytearray(b"abc")),             # 3 bytes -> 1 short frame
        (3, bytearray(b"")),                # empty -> no frames
        (4, bytearray(bytes(range(256)))),  # uniform -> entropy 8.0
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    frames = {
        (r["doc_id"], r["frame_idx"]): r["frame_hex"]
        for r in sample_frames(df, frame_size=8, stride=16, max_frames=4).collect()
    }
    assert sorted(k[1] for k in frames if k[0] == 1) == [0, 1, 2, 3]
    assert frames[(2, 0)] == "616263"          # short tail kept
    assert not any(k[0] == 3 for k in frames)  # empty dropped
    feats = {r["doc_id"]: r for r in media_byte_features(df).collect()}
    assert feats[4]["byte_entropy"] == 8.0 and feats[4]["n_bytes"] == 256
    assert feats[1]["printable_ratio"] == 1.0
    assert feats[3]["n_bytes"] == 0 and feats[3]["byte_entropy"] == 0.0
    meta = spark.createDataFrame(
        [(1, 1024, 512), (2, 100, 50), (3, 512, 1024), (4, 1024, 5)],
        "doc_id long, width int, height int",
    )
    plan = {r["doc_id"]: r for r in resize_plan(meta, max_side=512).collect()}
    assert (plan[1]["target_width"], plan[1]["target_height"]) == (512, 256)
    assert (plan[2]["target_width"], plan[2]["target_height"]) == (100, 50)  # no upscale
    assert (plan[3]["target_width"], plan[3]["target_height"]) == (256, 512)
    assert (plan[4]["target_width"], plan[4]["target_height"]) == (512, 3)  # 2.5 rounds half-up


def test_score_pairs_memo_not_shared_across_namespaced_sides(spark):
    """RND-shape inputs: the SAME id string on both sides but carrying
    DIFFERENT payloads (url_new vs url_prof tables). With
    memo_shared_ids=False the b-side must NOT reuse the a-side profile
    (which would score the page against itself, tanimoto 1.0)."""
    from whoiswho_spark.operators.scoring import score_pairs

    rows = [(
        "samekey", "samekey",
        "alpha beta", "gamma delta",
        ["alpha", "beta"], ["gamma", "delta"],
        ["alpha", "beta"], ["gamma", "delta"],
        [1.0, 0.0], [0.0, 1.0],
    )]
    pairs = spark.createDataFrame(
        rows,
        "url_new string, url_prof string, title_a string, title_b string, "
        "title_tokens_a array<string>, title_tokens_b array<string>, "
        "text_tokens_a array<string>, text_tokens_b array<string>, "
        "embedding_a array<double>, embedding_b array<double>",
    )
    r = score_pairs(
        pairs, id_a="url_new", id_b="url_prof", memo_shared_ids=False
    ).collect()[0]
    assert r["f_text_tanimoto"] == 0.0 and r["f_title_common"] == 0.0
    # shared-memo mode WOULD alias the sides here (the documented hazard)
    r2 = score_pairs(
        pairs, id_a="url_new", id_b="url_prof", memo_shared_ids=True
    ).collect()[0]
    assert r2["f_text_tanimoto"] == 1.0


def test_sharded_ann_string_ids(spark):
    """The sharded plans derive their output id type from the input
    schema — string-keyed corpora (urls) must work end-to-end, with the
    tie-break on the string's natural order."""
    from whoiswho_spark.operators.ann import sharded_neardup_pairs, sharded_topk

    rs = np.random.RandomState(5)
    vecs = rs.randn(20, 6)
    vecs[3] = vecs[7]  # exact dup pair for the near-dup path
    df = spark.createDataFrame(
        [(f"url{i:02d}", [float(x) for x in vecs[i]]) for i in range(20)],
        "vec_id string, embedding array<double>",
    )
    top = sharded_topk(df, df, k=3, n_shards=3)
    rows = top.collect()
    assert {type(r["query_id"]) for r in rows} == {str}
    assert all(r["rank"] <= 3 for r in rows)
    assert len({r["query_id"] for r in rows}) == 20
    nd = sharded_neardup_pairs(df, threshold=0.999, n_shards=3).collect()
    assert ("url03", "url07") in {(r["id_a"], r["id_b"]) for r in nd}
    assert all(r["id_a"] < r["id_b"] for r in nd)


def test_simhash_bucketed_plan_matches_block_plan(spark):
    """The pigeonhole chunk-bucket join is an exact physical rewrite of
    the quadratic block self-join: identical (pair, hamming) sets across
    hamming bounds and chunk counts — including k=0 (exact simhash
    match), oversplit chunks, and the k=64 degenerate all-pairs bound."""
    import random

    from whoiswho_spark.operators.dedup import (
        simhash_dup_pairs,
        simhash_dup_pairs_bucketed,
    )

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(50):
        # families of near-identical docs → small hamming distances
        fam = rng.randrange(8)
        base = vocab[fam * 5 : fam * 5 + 5] + rng.sample(vocab, rng.randint(0, 2))
        rows.append((i, rng.choice("ab"), " ".join(base)))
    rows += [(100, "a", rows[0][2]), (101, "a", rows[1][2])]  # exact dups
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")

    # None → adaptive (k=16 falls back to the block join — narrow
    # chunks; k=64 is degenerate, no pigeonhole exists; still parity);
    # explicit n_chunks forces the chunk join incl. the narrow-chunk
    # regimes (17×4-bit, 64×1-bit)
    for k, n_chunks in (
        (0, None), (3, None), (3, 8), (16, None), (16, 17), (63, 64),
        (64, None),
    ):
        a = {(r["block"], r["id_a"], r["id_b"], r["hamming"])
             for r in simhash_dup_pairs(df, "source", max_hamming=k).collect()}
        b = {(r["block"], r["id_a"], r["id_b"], r["hamming"])
             for r in simhash_dup_pairs_bucketed(
                 df, "source", max_hamming=k, n_chunks=n_chunks).collect()}
        assert a == b, (k, n_chunks, a ^ b)
    assert len(a) > 0  # the k=64 sweep pairs everything within blocks

    import pytest

    with pytest.raises(ValueError):
        simhash_dup_pairs_bucketed(df, "source", max_hamming=3, n_chunks=2)


def test_lsh_sharded_neardup_matches_lsh_join_plan(spark):
    """The per-bucket blocked matmul is an exact physical rewrite of the
    LSH join plan (same sign buckets, exact within bucket): identical
    (pair, cos) sets across shard counts; recall vs the exact all-pairs
    answer stays high on planted near-dups."""
    from whoiswho_spark.operators.ann import (
        embedding_neardup_pairs,
        lsh_sharded_neardup_pairs,
        sharded_neardup_pairs,
    )

    rs = np.random.RandomState(13)
    rows = []
    vid = 0
    for _ in range(30):
        base = rs.randn(16)
        base /= np.linalg.norm(base)
        for _ in range(3):  # planted near-dup families
            v = base + 0.02 * rs.randn(16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    join_plan = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in embedding_neardup_pairs(
            df, threshold=0.98, n_planes=6, dim=16
        ).collect()
    }
    for n_shards in (1, 3):
        got = {
            (r["id_a"], r["id_b"], r["cos"])
            for r in lsh_sharded_neardup_pairs(
                df, threshold=0.98, n_planes=6, dim=16, n_shards=n_shards
            ).collect()
        }
        assert got == join_plan, n_shards

    exact = {
        (r["id_a"], r["id_b"])
        for r in sharded_neardup_pairs(df, threshold=0.98, n_shards=3).collect()
    }
    found = {(a, b) for a, b, _ in join_plan}
    assert found <= exact
    # 6-plane recall on 0.02-noise families measures 0.73 (members near
    # a hyperplane flip sign bits) — the standard planes↔recall trade;
    # fewer planes / multi-probe raise it at more candidate cost
    assert len(found) / len(exact) >= 0.7


def test_blas_plans_accept_string_ids(spark):
    """The _blas alternates derive the output id type from the input
    schema (they used to hardcode bigint and crash on string-keyed
    corpora while the sharded contract plans had been fixed)."""
    from whoiswho_spark.operators.ann import (
        brute_force_topk_blas,
        embedding_neardup_pairs_blas,
        sharded_neardup_pairs,
        sharded_topk,
    )

    rs = np.random.RandomState(7)
    vecs = rs.randn(30, 8)
    vecs[5] = vecs[2]
    df = spark.createDataFrame(
        [(f"u{i:03d}", [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id string, embedding array<double>",
    )
    b = {(r["id_a"], r["id_b"], r["cos"])
         for r in embedding_neardup_pairs_blas(df, threshold=0.3).collect()}
    s = {(r["id_a"], r["id_b"], r["cos"])
         for r in sharded_neardup_pairs(df, threshold=0.3, n_shards=4).collect()}
    assert s == b and len(b) > 0

    q = df.where("vec_id < 'u004'")
    t1 = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos"])
          for r in brute_force_topk_blas(q, df, k=3).collect()}
    t2 = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos"])
          for r in sharded_topk(q, df, k=3, n_shards=4).collect()}
    assert t1 == t2 and len(t1) == 12


def test_ngram_prefix_plan_empty_and_tiny_inputs(spark):
    """Edge cases of the int-rank prefix plan: empty corpus (empty rank
    table through repartitionByRange), all-empty texts, and a single
    doc — no crash, empty result."""
    from whoiswho_spark.operators.dedup import ngram_jaccard_pairs_prefix

    schema = "doc_id bigint, source string, text string"
    empty = spark.createDataFrame([], schema)
    assert ngram_jaccard_pairs_prefix(empty, block_col="source").count() == 0
    blank = spark.createDataFrame([(1, "b", ""), (2, "b", " ")], schema)
    assert ngram_jaccard_pairs_prefix(blank, block_col="source").count() == 0
    single = spark.createDataFrame([(1, "b", "alpha beta")], schema)
    assert ngram_jaccard_pairs_prefix(single, block_col="source").count() == 0


def test_dense_token_ranks_match_global_window(spark):
    """The distributed dense rank (range partition + local row_number +
    driver offsets) must equal the single-window global rank for any
    partitioning — including n_parts larger than the vocabulary."""
    import random

    from pyspark.sql.window import Window

    from whoiswho_spark.operators.dedup import _dense_token_ranks

    rng = random.Random(11)
    rows = [
        (f"tok{i:03d}", rng.randint(1, 40)) for i in range(137)
    ]
    df_tbl = spark.createDataFrame(rows, "tok string, _df long")
    want = {
        r["tok"]: r["rk"]
        for r in df_tbl.select(
            "tok",
            F.row_number().over(Window.orderBy("_df", "tok")).alias("rk"),
        ).collect()
    }
    for n_parts in (1, 5, 300):
        ranks, n_vocab = _dense_token_ranks(df_tbl.repartition(7), n_parts=n_parts)
        got = {r["tok"]: r["rk"] for r in ranks.collect()}
        assert got == want, n_parts
        assert n_vocab == len(rows)
