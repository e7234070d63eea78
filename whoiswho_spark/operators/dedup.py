"""Deduplication operators for training-data pipelines.

Beyond the reference's `.distinct()`-style dedup (SURVEY.md §2.5 'Dedup'),
these are the large-corpus near-dup family a 100 TB text pipeline needs.
All hot paths are Catalyst exprs or Arrow-batched pandas UDFs; every
shuffle is on a bounded key (hash / block / band bucket), never all-pairs.

- exact:        groupBy(md5(text)) — one shuffle on the hash.
- MinHash/LSH:  token minhash signatures (engine-portable md5 hash
  family, blocking.hash60) → band buckets → candidate pairs only within
  buckets (shingle→minhash→band→bucket-join).
- n-gram Jaccard: within-block pair Jaccard on token sets — exact
  verification stage after LSH candidates.
- SimHash:      64-bit simhash in a vectorized pandas UDF; near-dups =
  hamming distance ≤ k within buckets of the top bits.
- embedding cosine: see operators/ann.py (same kernel).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType
from pyspark.sql.window import Window

from whoiswho_spark.functions.similarity import tanimoto_col
from whoiswho_spark.operators.blocking import hash60, minhash_signature_cols


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One winner (min id) per identical text; (text_hash, keep_id, n_dups).

    The 100 TB plan: shuffle on md5 only — text itself never moves (the
    hash is computed map-side, the group carries two small columns).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").cast("bigint").alias("n_dups"),
        )
    )


def tokens_col(text: Column) -> Column:
    """Whitespace tokens, empties dropped — the shared tokenizer for the
    dedup family (must stay portable to the DuckDB oracle)."""
    return F.filter(F.split(text, " "), lambda _tk: F.length(_tk) > 0)


def _distinct_tokens_first(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Tokenize + array_distinct in ONE prior projection: each signature
    column then hashes the shared deduped array instead of re-running the
    split per hash column and md5-ing duplicate tokens — ~4× faster at
    sf0.1, bit-identical signatures (min over a set == min over the
    multiset)."""
    return df.select(
        F.col(id_col), F.array_distinct(tokens_col(F.col(text_col))).alias("_toks")
    )


def minhash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", num_hashes: int = 4
) -> DataFrame:
    """(id, h0..h{k-1}) minhash signature per document."""
    base = _distinct_tokens_first(df, text_col, id_col)
    sig = minhash_signature_cols(F.col("_toks"), num_hashes)
    return base.select(
        F.col(id_col), *[s.alias(f"h{i}") for i, s in enumerate(sig)]
    )


def band_bucket_cols(sig: list[Column], rows_per_band: int) -> list[Column]:
    """One md5 bucket column per band — THE bucket definition, shared by
    every consumer (batch structs below, the wide pair plan, and the
    streaming twin) so a doc lands in byte-identical buckets everywhere
    by construction."""
    cols = []
    for b in range(len(sig) // rows_per_band):
        parts = sig[b * rows_per_band : (b + 1) * rows_per_band]
        cols.append(
            F.md5(F.concat_ws("_", *[p.cast("string") for p in parts]))
        )
    return cols


def band_bucket_structs(sig: list[Column], rows_per_band: int) -> list[Column]:
    """(band, bucket) structs over a signature column list (see
    band_bucket_cols for the shared bucket definition)."""
    return [
        F.struct(F.lit(b).alias("band"), c.alias("bucket"))
        for b, c in enumerate(band_bucket_cols(sig, rows_per_band))
    ]


def minhash_band_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """(id, band, bucket) — LSH banding over the signature; same bucket ⇒
    candidate duplicate pair."""
    base = _distinct_tokens_first(df, text_col, id_col)
    sig = minhash_signature_cols(F.col("_toks"), num_hashes)
    bands = band_bucket_structs(sig, rows_per_band)
    return base.select(F.col(id_col), F.explode(F.array(*bands)).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 4,
    rows_per_band: int = 2,
    n_salts: int | None = None,
    salt_min_bucket: int = 512,
) -> DataFrame:
    """Candidate dup pairs from shared LSH buckets (deduped across bands).

    ``n_salts`` defaults to the cluster's default parallelism (round 6):
    the salt count bounds how many tasks can share one mega-bucket's
    quadratic fan-out, so a fixed constant is wrong at BOTH ends — 8
    salts pinned sf1's 31k-doc bucket (492M of the 764M output pairs) to
    8 tasks AND pushed each salt's sort-merge buffer past the in-memory
    group threshold. Measured at sf1 / local[32]: n_salts 8 → 55.7 s,
    16 → 53.6 s, 32 → 6.7 s (identical result set by construction: the
    a-side carries one salt per row, the b-side replicates to all
    salts, so every pair still meets exactly once).

    NO GLOBAL DISTINCT: a pair duplicates only when both docs collide in
    SEVERAL bands, so each band-b join emits a pair only if its buckets
    DIFFER in every earlier band — exactly-once by first-colliding-band,
    a per-row predicate instead of a shuffle+hash-aggregate over the
    (quadratically expanded) pair table. Measured at sf0.1 the distinct
    was ~4 s of the query's 8 s; this plan removes it while shuffling
    the same narrow doc rows (each band join carries the num_bands md5
    strings — bytes per doc, not per pair).

    Boilerplate-heavy corpora produce mega-buckets (one bucket at sf0.1
    holds 3k docs → ~5M pairs); a plain bucket join puts each bucket's
    quadratic work on ONE task. SIZE-CONDITIONAL salting: one cheap
    bucket-size aggregate first (the block_stats pattern), then only
    buckets with ≥ ``salt_min_bucket`` members get the n_salts×
    replicate-join — identical result set, ~1× shuffle for the long tail
    of tiny buckets instead of an unconditional n_salts× blow-up. The
    heavy-bucket key list is tiny by construction (≤ |corpus| /
    salt_min_bucket keys) and is broadcast.
    """
    from whoiswho_spark.session import spread_small_input

    # the signature build (num_hashes md5s per distinct token) is the
    # expensive pre-shuffle projection — spread a single-split scan
    # across the executors first (round 6; no-op at real scale, where
    # the scan has plenty of splits: guide §2.6/§6 small-file trap)
    if n_salts is None:
        n_salts = max(8, df.sparkSession.sparkContext.defaultParallelism)
    df = spread_small_input(df.select(id_col, text_col))
    base = _distinct_tokens_first(df, text_col, id_col)
    sig = minhash_signature_cols(F.col("_toks"), num_hashes)
    buckets = band_bucket_cols(sig, rows_per_band)
    n_bands = len(buckets)
    wide = base.select(
        F.col(id_col), *[c.alias(f"_bk{b}") for b, c in enumerate(buckets)]
    )
    # one narrow row per doc (id + num_bands md5 strings) feeding the
    # heavy census + both sides of every band join → materialize once
    wide = wide.localCheckpoint()

    out = None
    for b in range(n_bands):
        key = f"_bk{b}"
        heavy = (
            wide.groupBy(key)
            .agg(F.count("*").alias("_bsz"))
            .where(F.col("_bsz") >= salt_min_bucket)
            .select(key, F.lit(True).alias("_heavy"))
        )
        marked = wide.join(F.broadcast(heavy), key, "left")
        earlier = [f"_bk{j}" for j in range(b)]
        a = marked.select(
            F.col(key).alias("_k"),
            F.col(id_col).alias("id_a"),
            *[F.col(e).alias(f"_a{e}") for e in earlier],
            F.when(
                F.col("_heavy"),
                F.pmod(
                    hash60(F.col(id_col).cast("string"), "mhsalt"),
                    F.lit(n_salts),
                ),
            )
            .otherwise(F.lit(0))
            .alias("_salt"),
        )
        bb = marked.select(
            F.col(key).alias("_k"),
            F.col(id_col).alias("id_b"),
            *[F.col(e).alias(f"_b{e}") for e in earlier],
            F.explode(
                F.when(
                    F.col("_heavy"), F.sequence(F.lit(0), F.lit(n_salts - 1))
                ).otherwise(F.array(F.lit(0)))
            ).alias("_salt"),
        )
        cond = F.col("id_a") < F.col("id_b")
        for e in earlier:
            # first-colliding-band ownership: skip pairs an earlier
            # band's join already emitted
            cond = cond & (F.col(f"_a{e}") != F.col(f"_b{e}"))
        pairs_b = (
            a.join(bb, ["_k", "_salt"]).where(cond).select("id_a", "id_b")
        )
        out = pairs_b if out is None else out.unionByName(pairs_b)
    return out


def _jaccard_sets_memo_udf():
    """Token-set Jaccard over DUPLICATE-FREE token arrays — now a pure
    Catalyst expression builder (same 4-arg call shape as the pandas
    variant it replaces; the id columns are accepted and unused).

    Round-6 measurement (guide §4: eliminate the JVM↔Python boundary):
    at sf1 / local[32] the Arrow-batched memo UDF was the er_pipeline
    wall — the block self-join emits 26.0M pairs and every pair ships
    BOTH token arrays through the Arrow boundary, 300.7 s of the 358.7 s
    query (join without scoring: 11.7 s).  ``size(array_intersect)``
    with ``|∪| = |a|+|b|−|∩|`` keeps the whole stage in whole-stage
    codegen: no ArrowEvalPython node, no Python workers, no per-pair
    set materialization.  Bit-identical doubles to the pandas memo
    kernel it replaced (verified 0/259,529 mismatches at sf0.1,
    0/25,984,882 at sf1): identical integer counts, same single
    int/int→double division.  That measured-and-rejected kernel is
    recorded in OPTIMIZATION_r06.md.

    PRECONDITION: both array inputs carry no duplicates — every call
    site (bench.py's er pairs, ngram_jaccard_pairs) applies
    ``array_distinct`` first, so ``size(x)`` equals ``|set(x)|``."""

    def jac(ida, x, idb, y):
        # coalesce(try_divide(i, |a|+|b|−i), 0) with i =
        # size(array_intersect): both references to i are UNCONDITIONAL,
        # so whole-stage codegen's subexpression elimination evaluates
        # the intersect ONCE while the stage stays fully codegen'd.
        # (CSE does NOT reach into conditional branches — a when-form
        # referencing i from a branch re-evaluates it, measured 25.8 s
        # vs 14.0 s at the sf1 stand-in; the earlier transform-"let"
        # also bound i once but its HOF is CodegenFallback, dropping
        # the projection to interpreted mode: 16.1 s.)  try_divide
        # returns NULL exactly when the union is 0 (both inputs empty
        # or NULL) → coalesce restores the contract's 0.0; bit-parity
        # vs the let form checked at 0 mismatches over all 26.3M
        # stand-in pairs (OPTIMIZATION_r06.md, Finding 7).
        i = F.size(F.array_intersect(x, y))
        return F.coalesce(
            F.try_divide(i, F.size(x) + F.size(y) - i), F.lit(0.0)
        )

    return jac


def ngram_jaccard_pairs(
    df: DataFrame,
    block_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    broadcast_right: bool = False,
) -> DataFrame:
    """Within-block pairs with token-SET Jaccard ≥ threshold →
    (block, id_a, id_b, jaccard). The exact-verify stage; block first so
    the join never goes quadratic globally.

    Exact pruning: J(a,b) ≥ τ requires min(|a|,|b|) ≥ τ·max(|a|,|b|)
    (since |∩| ≤ min and J ≥ τ ⇒ |∩| ≥ τ(|a|+|b|)/(1+τ)), so the size
    filter runs before any set work — the standard set-similarity-join
    length filter. ``broadcast_right=True`` hints a broadcast build side
    when the corpus fits (test scale / per-bucket shards); at full scale
    leave False and let AQE pick.
    """
    t = df.select(
        F.col(block_col).alias("block"),
        F.col(id_col),
        F.array_distinct(tokens_col(F.col(text_col))).alias("toks"),
    ).withColumn("sz", F.size("toks"))
    a = t.select(
        "block", F.col(id_col).alias("id_a"),
        F.col("toks").alias("toks_a"), F.col("sz").alias("sz_a"),
    )
    b = t.select(
        "block", F.col(id_col).alias("id_b"),
        F.col("toks").alias("toks_b"), F.col("sz").alias("sz_b"),
    )
    if broadcast_right:
        b = F.broadcast(b)
    jac_udf = _jaccard_sets_memo_udf()
    return (
        a.join(b, "block")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("sz_a", "sz_b")
                >= F.lit(float(threshold)) * F.greatest("sz_a", "sz_b")
            )
        )
        .select(
            "block",
            "id_a",
            "id_b",
            F.round(
                jac_udf(
                    F.col("id_a"), F.col("toks_a"),
                    F.col("id_b"), F.col("toks_b"),
                ),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _dense_token_ranks(
    df_tbl: DataFrame, n_parts: int | None = None
) -> tuple[DataFrame, int]:
    """(tok, _df) → ((tok, rk), vocab_size): dense integer rank of every
    token in rarest-first (_df, tok) order, computed DISTRIBUTED — a plain
    ``row_number().over(Window.orderBy(...))`` would funnel the whole
    vocabulary through ONE task (a 100 TB corpus has a billion-token
    vocabulary). Instead: range-partition the vocab on the rank order,
    rank WITHIN each partition (the window is partitioned, so it stays
    parallel), then add per-partition offsets from a tiny driver-side
    prefix sum over n_parts counts. Rank VALUES are deterministic (the
    rank of a token in a total order does not depend on where the range
    boundaries fall); they are internal to one run, never part of a
    query result.

    The vocabulary size falls out of the same per-partition counts the
    prefix sum already collects (zero extra jobs); ranks are 1..vocab.
    The caller uses it to pick the verify representation (round 6:
    bitmask fast path for ≤63-token vocabularies)."""
    spark = df_tbl.sparkSession
    if n_parts is None:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    parted = df_tbl.repartitionByRange(n_parts, "_df", "tok").withColumn(
        "_p", F.spark_partition_id()
    )
    w = Window.partitionBy("_p").orderBy("_df", "tok")
    local = parted.select(
        "tok", "_p", F.row_number().over(w).alias("_rn")
    ).localCheckpoint()  # pin the sampled range boundaries across the 2 uses
    counts = {
        r["_p"]: r["n"]
        for r in local.groupBy("_p").agg(F.count("*").alias("n")).collect()
    }
    if not counts:
        # empty vocab: create_map() with zero args types as map<void,void>
        # and fails analysis — the (empty) local frame is already correct
        return local.select("tok", F.col("_rn").cast("long").alias("rk")), 0
    offsets, acc = {}, 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    off = F.create_map(
        *[F.lit(x) for p_o in sorted(offsets.items()) for x in p_o]
    )
    ranks = local.select(
        "tok", (off[F.col("_p")] + F.col("_rn")).cast("long").alias("rk")
    )
    return ranks, acc


def _pair_distinct(pairs: DataFrame) -> DataFrame:
    """Distinct over (id_a, id_b) with the exchange placed EXPLICITLY
    below the aggregate (round 6, guide §2.1/§5).

    A bare ``.distinct()`` plans partial-aggregate → exchange → final.
    The meet join's duplicates for one pair live in DIFFERENT
    (block, token) groups, so the map-side partial agg dedupes almost
    nothing while building a hash map over nearly every input row —
    ~14M keys per task at sf1 — which exceeds execution memory and
    falls back to sort-based spill.  Repartitioning on the pair key
    first satisfies the aggregate's distribution, so Spark runs the
    whole aggregation post-shuffle where each task holds only
    |distinct pairs| / N keys.  Measured at sf1 (500M meet rows → 44M
    pairs): 83.3 s → 42.0 s for the candidate stage.  Result-identical
    trivially (dedup is dedup; partition count only shapes execution)."""
    n = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return pairs.repartition(n, "id_a", "id_b").distinct()


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    block_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    asymmetric: bool = True,
) -> DataFrame:
    """EXACT set-similarity join with PPJoin-style prefix filtering — the
    100 TB plan for ngram_jaccard_pairs (result-identical, pytest + same
    oracle).

    Why exact: J(a,b) ≥ τ ⇒ |a∩b| ≥ τ·|a∪b| ≥ ⌈τ·|a|⌉, so under any
    consistent global token order the smallest COMMON token sits within
    the first |x| − ⌈τ·|x|⌉ + 1 tokens of BOTH sides — candidates only
    need to meet on a prefix token, never on the full set.

    Plan: token document-frequency table (one agg) → DENSE INTEGER token
    ranks in rarest-first (df, token) order (distributed; see
    _dense_token_ranks) → per-doc sorted int-rank arrays → explode only
    the prefix → self-join on (block, prefix rank) → distinct candidate
    pairs on the NARROW (id_a, id_b) key (PRECONDITION shared with the
    block plan's id-keyed verify: each id carries ONE block, so the
    block is re-derived at verify time instead of widening the distinct
    shuffle) → attach int-rank arrays → exact Jaccard verify as
    pure Catalyst ``size(array_intersect)`` — no Python in the verify
    path, and the pair shuffles carry int arrays, not token strings.
    The join key is (block, RARE token), so group sizes stay small even
    when every document shares the boilerplate vocabulary — the quadratic
    blow-up of the block self-join never materializes.

    Measured at sf0.1 / local[32] (best-of-3): 4.3 s → 2.1 s for the
    string-UDF → int-Catalyst verify + narrow distinct rewrite. Two
    alternatives tried and REVERTED on the array plan: a PPJoin
    positional filter on the meet rows (per-row min-overlap arithmetic
    over the ~10×-duplicated meets cost more than the distinct it
    replaced, 4.8 s; re-measured and re-rejected at sf1 in round 6) and
    first-common-token ownership à la minhash first-colliding-band
    (carrying both prefix arrays through the meet join exploded the
    shuffle width: 12 s vs the 1.2 s narrow distinct it was meant to
    remove — the minhash trick works there because band buckets are a
    FIXED-WIDTH row, not variable-length arrays).

    SMALL-VOCAB BITMASK regime (round 6): when the corpus vocabulary
    fits 63 dense ranks (the gate falls out of _dense_token_ranks'
    prefix-sum counts, zero extra jobs), each doc's rank set is one
    64-bit mask — and fixed-width masks make the ownership idea above
    AFFORDABLE: meet rows carry both sides' (prefix mask, full mask),
    a pair is emitted only from its minimum shared prefix token
    (lowest-set-bit test on pmask_a & pmask_b), and the Jaccard verify
    runs inline as bit_count(fmask_a & fmask_b) — same integer counts,
    same single division, bit-identical doubles. The pair-distinct
    exchange and both verify joins disappear; the ~500M-row meet output
    never crosses an Exchange. Measured at the sf1 stand-in
    (interleaved best-of-2): 23.0 s → 5.7 s, identity-checked over all
    44M pairs. Corpora with >63 distinct tokens (any real crawl) keep
    the int-rank-array plan below; categorical/low-cardinality set
    workloads are where the mask regime fires in practice.

    ``asymmetric=True`` (the default since round 5) uses PPJoin's
    ASYMMETRIC prefixes: each pair is oriented so the smaller doc is the
    index side, whose prefix shrinks to the 2τ/(1+τ) bound (~32% fewer
    meet rows at τ=0.5) while the probe side keeps the τ-prefix;
    result-identical by the overlap bound in the inline comment,
    pytest-parity-gated both ways. History: the round-4 measurement on
    top of the string-verify plan showed no win (2.82 s vs 2.78 s at
    sf0.1) and it was reverted; re-measured at round-5 HEAD on the
    int-rank plan it wins at BOTH scales — interleaved same-JVM
    best-of-N: sf0.1 2.26 s vs 2.37 s, sf1 (~50k docs, ~500M meets)
    78.6 s vs 85.6 s — because the narrow-distinct rewrite moved the
    bottleneck back to the meet join that the shorter index prefix
    prunes.
    """
    from whoiswho_spark.session import spread_small_input

    # spread a single-split scan before the tokenize/explode projections
    # (round 6; no-op at real scale — see spread_small_input)
    df = spread_small_input(df.select(block_col, id_col, text_col))
    t = df.select(
        F.col(block_col).alias("block"),
        F.col(id_col),
        F.array_distinct(tokens_col(F.col(text_col))).alias("toks"),
    ).withColumn("sz", F.size("toks"))

    df_tbl = (
        t.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("_df"))
    )
    ranks, n_vocab = _dense_token_ranks(df_tbl)
    # regime gate (see the BITMASK paragraph in the docstring); bit 0
    # stays unused since dense ranks start at 1, so ≤63 ranks fit a long
    use_mask = 0 < n_vocab <= 63
    agg_cols = [F.sort_array(F.collect_list("rk")).alias("rks")]
    if use_mask:
        agg_cols.append(
            F.bit_or(
                F.expr("shiftleft(cast(1 as bigint), cast(rk as int))")
            ).alias("fmask")
        )
    # per-doc ascending rank arrays — ascending rank IS rarest-first
    # (df, token) order, so one sorted int array serves both the prefix
    # slice and the intersect verify
    ti = (
        t.select("block", id_col, "sz", F.explode("toks").alias("tok"))
        .join(ranks, "tok")
        .groupBy("block", id_col, "sz")
        .agg(*agg_cols)
    )
    ti = ti.localCheckpoint()  # feeds prefix build and both verify sides
    # ⌈τ·sz⌉ in integer-safe form: the raw double product can land one ULP
    # ABOVE the exact rational (0.28·25 → 7.000000000000001), which would
    # ceil to 8 and shrink the prefix by one token — dropping exact-
    # boundary pairs and breaking the result-identical claim vs the block
    # plan for non-default thresholds. Rounding to 9 decimals first
    # restores the exact value (token counts are far below 10^9, so the
    # round can never cross a true non-integer boundary).
    def _plen(frac: float):
        # ⌈frac·sz⌉ with the 9-decimal ULP guard documented above
        return F.greatest(
            F.lit(1),
            (
                F.col("sz")
                - F.ceil(F.round(F.lit(frac) * F.col("sz"), 9))
                + 1
            ).cast("int"),
        )

    if use_mask:
        # OWNERSHIP plan (round 6): with 8-byte masks the meet rows can
        # afford to CARRY both sides' prefix mask + full mask, so the
        # pair-distinct exchange and both verify joins disappear:
        # - exactly-once emit: a pair meets once per shared prefix
        #   token; keep only the meet whose token is the MINIMUM shared
        #   prefix token — "no shared bit strictly below this token's
        #   bit" on pmask_a & pmask_b. The minhash first-colliding-band
        #   trick, affordable here because the carried state is two
        #   longs (the round-5 attempt carried variable-length prefix
        #   ARRAYS and lost 10×; see the docstring history).
        # - inline verify: |∩| = bit_count(fmask_a & fmask_b) on the
        #   same row. The 500M-row meet output then never crosses an
        #   Exchange at all. Measured at the sf1 stand-in (interleaved
        #   best-of-2): 23.0 s → 5.7 s, result identical over all 44M
        #   candidate pairs (OPTIMIZATION_r06.md, Finding 6).
        pmask = F.expr(
            "aggregate(slice(rks, 1, _pl), cast(0 as bigint), "
            "(acc, r) -> acc | shiftleft(cast(1 as bigint), cast(r as int)))"
        )

        def _prefix_side(frac: float, sfx: str) -> DataFrame:
            return (
                ti.withColumn("_pl", _plen(frac))
                .withColumn("pmask", pmask)
                .select(
                    "block",
                    F.col(id_col).alias(f"id_{sfx}"),
                    F.col("sz").alias(f"sz_{sfx}"),
                    F.col("pmask").alias(f"pm_{sfx}"),
                    F.col("fmask").alias(f"fm_{sfx}"),
                    F.explode(F.slice("rks", 1, F.col("_pl"))).alias("tok"),
                )
            )

        if asymmetric:
            idx_frac = 2.0 * threshold / (1.0 + threshold)
            a = _prefix_side(idx_frac, "a")
            b = _prefix_side(threshold, "b")
            pair_cond = (
                (F.col("sz_a") < F.col("sz_b"))
                | ((F.col("sz_a") == F.col("sz_b")) & (F.col("id_a") < F.col("id_b")))
            ) & (F.col("sz_a") >= F.lit(float(threshold)) * F.col("sz_b"))
        else:
            a = _prefix_side(threshold, "a")
            b = _prefix_side(threshold, "b")
            pair_cond = (F.col("id_a") < F.col("id_b")) & (
                F.least("sz_a", "sz_b")
                >= F.lit(float(threshold)) * F.greatest("sz_a", "sz_b")
            )
        shared = F.col("pm_a").bitwiseAND(F.col("pm_b"))
        # bits strictly below tok as an UNSIGNED shift of -1: ranks are
        # 1..63 so 64-tok ∈ [1, 63] and the mask is 2^tok − 1 with no
        # arithmetic — `shiftleft(1, tok) - 1` would ARITHMETIC_OVERFLOW
        # under ANSI at tok = 63 (Long.MIN − 1), which a vocab of exactly
        # 63 ranks can reach when a doc's prefix contains the most
        # common token (regression-pinned in the rank-63 parity test)
        below_tok = F.expr(
            "shiftrightunsigned(cast(-1 as bigint), 64 - cast(tok as int))"
        )
        owns = shared.bitwiseAND(below_tok) == 0
        inter = F.bit_count(F.col("fm_a").bitwiseAND(F.col("fm_b")))
        union = F.col("sz_a") + F.col("sz_b") - inter
        return (
            a.join(b, ["block", "tok"])
            .where(pair_cond & owns)
            .select(
                "block",
                # normalize to id order (asymmetric orientation is by
                # size); same integer counts and single division as the
                # array verify (masks are a bijection of rank sets) →
                # bit-identical doubles
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
                F.round(inter.cast("double") / union, 6).alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
        )
    if not asymmetric:
        prefixes = ti.select(
            "block",
            F.col(id_col),
            "sz",
            F.explode(F.slice("rks", 1, _plen(threshold))).alias("tok"),
        )
        a = prefixes.select(
            "block", "tok", F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")
        )
        b = prefixes.select(
            "block", "tok", F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")
        )
        cands = (
            a.join(b, ["block", "tok"])
            .where(
                (F.col("id_a") < F.col("id_b"))
                & (
                    F.least("sz_a", "sz_b")
                    >= F.lit(float(threshold)) * F.greatest("sz_a", "sz_b")
                )
            )
            .select("id_a", "id_b")
        )
        cands = _pair_distinct(cands)
    else:
        # PPJoin asymmetric prefixes: orient each pair so the SMALLER
        # doc is the index side a (ties by id). J ≥ τ with |a| ≤ |b|
        # gives overlap o ≥ τ(|a|+|b|)/(1+τ) ≥ (2τ/(1+τ))·|a| and (via
        # the size filter |a| ≥ τ|b|) o ≥ τ·|b|, so the smallest common
        # token sits inside a's SHORTER 2τ/(1+τ)-prefix and b's τ-prefix
        # — the a-side explode shrinks (~32% fewer meet rows at τ=0.5)
        # at the cost of a second explode pass over ti.
        idx_frac = 2.0 * threshold / (1.0 + threshold)
        a = ti.select(
            "block",
            F.col(id_col).alias("id_a"),
            F.col("sz").alias("sz_a"),
            F.explode(F.slice("rks", 1, _plen(idx_frac))).alias("tok"),
        )
        b = ti.select(
            "block",
            F.col(id_col).alias("id_b"),
            F.col("sz").alias("sz_b"),
            F.explode(F.slice("rks", 1, _plen(threshold))).alias("tok"),
        )
        cands = (
            a.join(b, ["block", "tok"])
            .where(
                (
                    (F.col("sz_a") < F.col("sz_b"))
                    | (
                        (F.col("sz_a") == F.col("sz_b"))
                        & (F.col("id_a") < F.col("id_b"))
                    )
                )
                & (F.col("sz_a") >= F.lit(float(threshold)) * F.col("sz_b"))
            )
            # normalize to id order so output/verify match the symmetric
            # plan (and the oracle) row for row
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
        )
        cands = _pair_distinct(cands)
    inter = F.size(F.array_intersect("rks_a", "rks_b"))
    union = F.size("rks_a") + F.size("rks_b") - inter
    return (
        cands.join(
            ti.select(
                F.col(id_col).alias("id_a"), "block", F.col("rks").alias("rks_a")
            ),
            "id_a",
        )
        .join(
            ti.select(F.col(id_col).alias("id_b"), F.col("rks").alias("rks_b")),
            "id_b",
        )
        .select(
            "block",
            "id_a",
            "id_b",
            # same integer counts and single division as the UDF verify
            # (ranks are a bijection of tokens) → bit-identical doubles
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


@pandas_udf(LongType())
def simhash64_udf(text: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens (md5-derived per-token 64-bit
    fingerprints, unweighted). Arrow-batched; numpy bit-count inner loop."""
    import hashlib

    out = np.zeros(len(text), dtype=np.int64)
    bit_cache: dict[str, np.ndarray] = {}  # per-batch token→±1 bits memo

    def token_bits(t: str) -> np.ndarray:
        b = bit_cache.get(t)
        if b is None:
            digest = hashlib.md5(t.encode()).digest()[:8]
            b = 2 * np.unpackbits(
                np.frombuffer(digest, dtype=np.uint8)
            ).astype(np.int64) - 1
            bit_cache[t] = b
        return b

    for i, s in enumerate(text.fillna("")):
        toks = [t for t in s.split(" ") if t]
        if not toks:
            continue
        acc = np.zeros(64, dtype=np.int64)
        for t in toks:
            acc += token_bits(t)
        val = 0
        for b in range(64):
            if acc[b] > 0:
                val |= 1 << b
        # two's-complement into int64
        out[i] = val - (1 << 64) if val >= (1 << 63) else val
    return pd.Series(out)


def simhash_dup_pairs(
    df: DataFrame,
    block_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ k within blocks —
    REFERENCE plan (quadratic block self-join). Kept as the equivalence
    baseline; the contract/scale plan is ``simhash_dup_pairs_bucketed``
    (result-identical, pytest-gated), whose join meets on bit-chunk
    buckets instead of whole blocks.
    """
    from whoiswho_spark.session import spread_small_input

    # spread a single-split scan, then materialize the Arrow UDF output
    # once — it feeds BOTH join sides (round 6; before this the simhash
    # kernel ran twice, single-task, on a one-row-group parquet scan)
    s = spread_small_input(df.select(block_col, id_col, text_col)).select(
        F.col(block_col).alias("block"),
        F.col(id_col),
        simhash64_udf(F.col(text_col)).alias("sh"),
    ).localCheckpoint()
    a = s.select("block", F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = s.select("block", F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, "block")
        .where(F.col("id_a") < F.col("id_b"))
        .select("block", "id_a", "id_b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def _simhash_chunk_cols(sh: Column, n_chunks: int) -> list[Column]:
    """Split the 64-bit simhash into ``n_chunks`` contiguous bit spans
    (widths as equal as 64/n allows). Logical shifts, so the sign bit is
    just another data bit."""
    base, extra = divmod(64, n_chunks)
    cols, off = [], 0
    for c in range(n_chunks):
        w = base + (1 if c < extra else 0)
        if w >= 64:
            # single full-width chunk: the mask 2^64−1 overflows a
            # signed long literal and is a no-op anyway
            cols.append(sh)
        else:
            cols.append(
                F.shiftrightunsigned(sh, off).bitwiseAND(F.lit((1 << w) - 1))
            )
        off += w
    return cols


def simhash_dup_pairs_bucketed(
    df: DataFrame,
    block_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_chunks: int | None = None,
    min_chunk_bits: int = 8,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming ≤ k — THE 100 TB plan,
    result-identical to ``simhash_dup_pairs`` (pytest-gated, same
    oracle).

    Pigeonhole multi-probe: split the 64 bits into ``max_hamming + 1``
    chunks; a pair within hamming k differs in ≤ k chunks, so it agrees
    EXACTLY on at least one chunk. Candidates therefore meet on
    (block, chunk_idx, chunk_value) — the standard ≤k-hamming trick —
    and only candidates pay the XOR/bit_count verify. The quadratic
    block self-join never materializes: group size is the count of docs
    sharing one 64/(k+1)-bit span, which for small k (chunks of 16+
    bits) is ~|block| / 2^16 per bucket on non-degenerate corpora.
    Boilerplate-heavy corpora can still produce hot chunk buckets
    (identical simhashes); those pairs ARE the query's answer — the
    residual quadratic is within true near-dup groups only, the same
    bound minhash_dup_pairs carries.

    ADAPTIVE regime (``n_chunks=None``): the pigeonhole only has power
    while chunks stay wide — k+1 chunks of w = 64/(k+1) bits prune a
    random pair by ~(k+1)/2^w, so beyond k ≈ 64/min_chunk_bits − 1 the
    filter is provably near-vacuous and the chunk explode/dedupe is
    pure overhead (measured: k=16 → 17 4-bit chunks ran 1.4× SLOWER
    than the block join at sf0.1). In that regime there is NO exact
    sub-quadratic plan (any ≤k certificate needs k+1 disjoint exact
    spans), so the caller's block key is the only bound and the plan
    falls back to the block join. Pass ``n_chunks`` explicitly to force
    the chunk join regardless (the equivalence test does).

    ``n_chunks`` > max_hamming+1 trades more candidate replication for
    smaller buckets; fewer is invalid (pigeonhole breaks) and raises.
    """
    if n_chunks is None:
        if max_hamming >= 64 or 64 // (max_hamming + 1) < min_chunk_bits:
            # k ≥ 64: every pair qualifies — no pigeonhole exists (a
            # hamming-64 pair differs in all 64 one-bit chunks). Narrow
            # chunks: filter near-vacuous (see docstring). Both regimes
            # keep the block-bounded join.
            return simhash_dup_pairs(
                df, block_col, text_col, id_col, max_hamming
            )
        n_chunks = max_hamming + 1
    n_chunks = min(n_chunks, 64)
    if n_chunks < max_hamming + 1:
        raise ValueError(
            f"usable chunks {n_chunks} < max_hamming+1={max_hamming + 1}: a "
            "pair within the hamming bound could differ in every chunk"
        )
    from whoiswho_spark.session import spread_small_input

    # the simhash UDF is the expensive pre-shuffle map — spread a
    # single-split scan first (round 6; no-op at real scale)
    s = spread_small_input(df.select(block_col, id_col, text_col)).select(
        F.col(block_col).alias("block"),
        F.col(id_col),
        simhash64_udf(F.col(text_col)).alias("sh"),
    )
    # the signature table feeds both join sides — materialize the Arrow
    # UDF output once (same reasoning as minhash_dup_pairs' checkpoint)
    s = s.localCheckpoint()
    chunks = _simhash_chunk_cols(F.col("sh"), n_chunks)
    e = s.select(
        "block",
        F.col(id_col),
        F.col("sh"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("ci"), ch.alias("cv"))
                    for c, ch in enumerate(chunks)
                ]
            )
        ).alias("ch"),
    ).select("block", id_col, "sh", F.col("ch.ci").alias("ci"), F.col("ch.cv").alias("cv"))
    a = e.select(
        "block", "ci", "cv", F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")
    )
    b = e.select(
        "block", "ci", "cv", F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["block", "ci", "cv"])
        .where(F.col("id_a") < F.col("id_b"))
        # a pair agreeing on several chunks meets several times; dedupe
        # BEFORE the verify so the shuffle carries id pairs, not matrices
        .select("block", "id_a", "id_b", "sh_a", "sh_b")
        .dropDuplicates(["block", "id_a", "id_b"])
        .select("block", "id_a", "id_b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )
