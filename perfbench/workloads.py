"""The benchmark's workloads: seeded inputs, set-up, the timed call and
the correctness check of its output.

Both workloads run on the same seeded page corpus. Each class has
``setup()`` (references, before the first timed call), ``op(i)`` (one
timed call into the library), ``calls`` (how many calls a run times at
least) and ``check(out)`` (untimed: returns the pairwise F1 of the output
against the workload's reference and raises ``CheckFailed`` when the
output is wrong).
"""

from __future__ import annotations

import hashlib
import os
import re
from itertools import combinations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from tracing import QUERY_LAYERS

#: pages per corpus: every seed gives exactly this many, on the host count
#: ``sources.pages`` gives a corpus of N_ENTITIES entities (~4.5 pages
#: each). Small enough that a full evaluation, 4 + 22 runs per workload,
#: fits in 3,420 s on 4 cores.
N_PAGES = 900
N_ENTITIES = 200
#: entity ids of seed s start at s * SEED_STRIDE
SEED_STRIDE = 100_000
#: files per streaming source = micro-batches per drain
STREAM_FILES = 4
#: incremental_er's attach threshold (the value its parity tests use)
STREAM_THRESHOLD = 0.5
MIN_F1 = 0.99

CORPUS_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("entity_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
    ]
)


class CheckFailed(Exception):
    """A timed call returned a wrong result."""


def corpus_frame(seed: int, n_pages: int = N_PAGES) -> pd.DataFrame:
    """The first ``n_pages`` pages of the seed's entities, from
    ``sources.pages``' per-entity generator. ``pages.SEED`` is a constant,
    so the seed picks the entity id range instead; the host count stays
    that of an N_ENTITIES corpus, so every seed has the same size and skew
    distribution (the last entity may lose some of its variants)."""
    from whoiswho_spark.sources import pages as P

    vocab = P._vocab()
    n_hosts = max(4, N_ENTITIES // 50)  # as generate_pages(spark, N_ENTITIES)
    rows, eid = [], (seed % 1_000_000) * SEED_STRIDE
    while len(rows) < n_pages:
        rows.extend(P._gen_entity_pages(eid, n_hosts, vocab))
        eid += 1
    return pd.DataFrame(rows[:n_pages]).sort_values("url", ignore_index=True)


def corpus_checksum(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for r in df.itertuples(index=False):
        h.update(r.url.encode())
        h.update(r.html)
        h.update(r.text.encode())
        h.update(r.lang.encode())
        h.update(str((r.entity_id, r.warc_ts)).encode())
        h.update(np.asarray(r.embedding, dtype=np.float32).tobytes())
    return h.hexdigest()


def write_split(table: pa.Table, path: str, n_files: int, key: str) -> None:
    """Write ``table`` as ``n_files`` parquet files of consecutive ``key``
    ranges, so a seed always gives the same files."""
    os.makedirs(path)
    table = table.sort_by(key)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def pair_f1(got: set, want: set) -> float:
    if got == want:
        return 1.0
    hit = len(got & want)
    if not hit:
        return 0.0
    p, r = hit / len(got), hit / len(want)
    return 2 * p * r / (p + r)


def partition_pairs(assign: dict) -> set:
    """Co-clustered (a, b) pairs, a < b, of a url -> cluster mapping."""
    members: dict = {}
    for url, cid in assign.items():
        members.setdefault(cid, []).append(url)
    return {pair for urls in members.values() for pair in combinations(sorted(urls), 2)}


def url_host(url: str) -> str:
    """The blocking key of the streamed pages: the url's host."""
    m = re.match(r"[a-z][a-z0-9+.-]*://([^/:?#]+)", url.lower())
    return re.sub(r"^www\.", "", m.group(1)) if m else ""


def distinct_tokens(text: str) -> list[str]:
    """Space-separated tokens of ``text``, first occurrences in order."""
    return list(dict.fromkeys(t for t in text.split(" ") if t))


def threshold_components(rows: pd.DataFrame, threshold: float) -> dict:
    """url -> smallest url of its connected component in the graph of
    same-block pairs whose token-set Tanimoto is >= threshold."""
    parent = {u: u for u in rows["url"]}

    def find(u):
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for _, block in rows.groupby("block_key"):
        docs = [(u, set(t)) for u, t in zip(block["url"], block["toks"])]
        for i, (ua, ta) in enumerate(docs):
            for ub, tb in docs[i + 1 :]:
                union = len(ta | tb)
                if union and len(ta & tb) / union >= threshold:
                    ra, rb = find(ua), find(ub)
                    parent[max(ra, rb)] = min(ra, rb)
    return {u: find(u) for u in parent}


def observed_noop(df, cols: tuple[str, ...]) -> tuple[int, int, int]:
    """Write ``df`` to the noop sink; return (rows, xor, sum) of a 64-bit
    hash of ``cols`` per row, observed on the rows the sink received."""
    h = F.xxhash64(*cols)
    obs = Observation()
    df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(h), F.lit(0)).alias("x"),
        F.coalesce(F.sum(h.bitwiseAND(0x7FFFFFFF)), F.lit(0)).alias("s"),
    ).write.format("noop").mode("overwrite").save()
    got = obs.get
    return int(got["n"]), int(got["x"]), int(got["s"])


def tail(values: list[float]) -> float:
    """The highest sample with at least ten samples above it; the maximum
    when there are fewer than eleven."""
    v = sorted(values)
    return v[len(v) - 11] if len(v) >= 11 else v[-1]


class Workload:
    calls = 1

    def __init__(self, spark, tracer, work: str, corpus: pd.DataFrame, corpus_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.corpus = corpus
        self.corpus_dir = corpus_dir

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def layer_rows(self, outs: list) -> dict:
        """Per-layer output rows the event log cannot see (noop sinks)."""
        return {}

    def layer_extras(self, outs: list) -> dict:
        """Per-layer figures that are not task metrics."""
        return {}


class ErBatch(Workload):
    """The flagship: run_pipeline(cc, resume=False) with precomputed
    embeddings into a fresh workdir, F1 against the generator's entity
    labels. A run times the session's first three calls: one call is too
    short to be steady on its own."""

    calls = 3

    def setup(self):
        from whoiswho_spark.plans.pipeline import ERConfig

        corpus = self.spark.read.parquet(self.corpus_dir)
        self.pages = corpus.select("url", "warc_ts", "html", "text", "lang")
        self.embeddings = corpus.select("url", "embedding")
        self.labels = corpus.select("url", "entity_id")
        self.cfg = ERConfig(cluster_method="cc", resume=False)

    def op(self, i):
        from whoiswho_spark.plans.pipeline import run_pipeline

        wd = self.path(f"er_{i}")
        run_pipeline(self.spark, self.pages, self.embeddings, wd, self.cfg)
        return wd

    def check(self, wd) -> float:
        from whoiswho_spark.plans.pipeline import evaluate_run

        f1 = evaluate_run(self.spark, wd, self.labels)
        if f1 < MIN_F1:
            raise CheckFailed(f"pairwise F1 {f1:.4f} < {MIN_F1}")
        return f1


class DedupStream(Workload):
    """The corpus operators without scoring or CC, in one call:
    operators.dedup's exact, minhash, n-gram (by host) and simhash (by
    host) joins, each to the noop sink, then run_incremental_er_once and
    run_incremental_dedup_once draining the corpus as STREAM_FILES parquet
    files (one per micro-batch).

    Outputs are checked against references computed another way: exact
    dedup against pandas, the n-gram join against its exact twin
    ngram_jaccard_pairs, simhash against simhash_dup_pairs_bucketed. The
    ER drain's canonical partition must equal connected components of the
    within-block >= threshold Tanimoto graph, and the dedup drain's pairs
    must equal the call's batch minhash_dup_pairs (the streaming
    operators' documented contracts). A later call in the same run must
    repeat the first call's outputs.
    """

    def setup(self):
        from whoiswho_spark.operators import dedup as D
        from whoiswho_spark.operators.blocking import normalized_host_col

        self.dedup_ops = (
            ("dedup.exact", D.exact_dedup, ("text_hash", "keep_id", "n_dups")),
            ("dedup.minhash", D.minhash_dup_pairs, ("id_a", "id_b")),
            ("dedup.ngram", lambda d: D.ngram_jaccard_pairs_prefix(d, "host"), ("id_a", "id_b")),
            ("dedup.simhash", lambda d: D.simhash_dup_pairs(d, "host"), ("id_a", "id_b")),
        )
        self.frame = self.spark.read.parquet(self.corpus_dir).select(
            F.col("url").alias("doc_id"),
            "text",
            normalized_host_col(F.col("url")).alias("host"),
        )
        exact = (
            self.corpus.assign(text_hash=[hashlib.md5(t.encode()).hexdigest() for t in self.corpus["text"]])
            .groupby("text_hash")["url"]
            .agg(keep_id="min", n_dups="count")
            .reset_index()
        )
        twins = {
            "dedup.exact": self.spark.createDataFrame(
                exact, "text_hash string, keep_id string, n_dups bigint"
            ),
            "dedup.ngram": D.ngram_jaccard_pairs(self.frame, "host"),
            "dedup.simhash": D.simhash_dup_pairs_bucketed(self.frame, "host"),
        }
        self.reference = {
            layer: observed_noop(twins[layer], cols)
            for layer, _, cols in self.dedup_ops
            if layer in twins
        }
        self.first = None

        # the streamed rows are derived in pandas, so the union-find reference
        # shares no code with the operators it checks
        er = pd.DataFrame(
            {
                "url": self.corpus["url"],
                "block_key": [url_host(u) for u in self.corpus["url"]],
                "toks": [distinct_tokens(t) for t in self.corpus["text"]],
            }
        )
        dd = self.corpus[["url", "text"]].rename(columns={"url": "doc_id"})
        write_split(pa.Table.from_pandas(er, preserve_index=False), self.path("er_src"), STREAM_FILES, "url")
        write_split(pa.Table.from_pandas(dd, preserve_index=False), self.path("dd_src"), STREAM_FILES, "doc_id")
        self.ref_partition = threshold_components(er, STREAM_THRESHOLD)
        self.ref_pairs = partition_pairs(self.ref_partition)

    def op(self, i):
        from whoiswho_spark.streaming.incremental_dedup import run_incremental_dedup_once
        from whoiswho_spark.streaming.incremental_er import run_incremental_er_once

        sums = {}
        for layer, build, cols in self.dedup_ops:
            with self.tracer.span(layer):
                sums[layer] = observed_noop(build(self.frame), cols)
        metrics = self.path(f"stream_{i}", "metrics")
        with self.tracer.span("stream.er"):
            events = run_incremental_er_once(
                self.spark, self.path("er_src"), self.path(f"stream_{i}", "er_ckpt"),
                name="stream_er", threshold=STREAM_THRESHOLD,
                output_dir=self.path(f"stream_{i}", "er_out"), metrics_dir=metrics,
            )
        with self.tracer.span("stream.dedup"):
            pairs = run_incremental_dedup_once(
                self.spark, self.path("dd_src"), self.path(f"stream_{i}", "dd_ckpt"),
                name="stream_dedup",
                output_dir=self.path(f"stream_{i}", "dd_out"), metrics_dir=metrics,
            )
        return sums, events, pairs, metrics

    def check(self, out) -> float:
        from whoiswho_spark.streaming.incremental_dedup import distinct_candidate_pairs
        from whoiswho_spark.streaming.incremental_er import canonical_partition

        sums, events, pairs, _ = out
        bad = [k for k, want in self.reference.items() if sums[k] != want]
        if bad:
            raise CheckFailed(f"outputs differ from their references: {bad}")
        self.first = self.first or sums
        if sums != self.first:
            raise CheckFailed("outputs differ from the first call's")
        got = {r.url: r.cluster for r in canonical_partition(events).collect()}
        f1 = pair_f1(partition_pairs(got), self.ref_pairs)
        if got != self.ref_partition:
            raise CheckFailed(f"streamed partition differs from batch CC (F1 {f1:.4f})")
        streamed = observed_noop(distinct_candidate_pairs(pairs), ("id_a", "id_b"))
        if streamed != sums["dedup.minhash"]:
            raise CheckFailed("dedup drain pair set differs from batch minhash_dup_pairs")
        return f1

    def layer_rows(self, outs):
        rows = {layer: 0 for layer, _, _ in self.dedup_ops}
        for sums, _, _, _ in outs:
            for layer, (n, _, _) in sums.items():
                rows[layer] += n
        return rows

    def layer_extras(self, outs):
        from whoiswho_spark.plans.metrics import read_streaming_metrics

        walls = {q: [] for q in QUERY_LAYERS}
        state = dict.fromkeys(QUERY_LAYERS, 0)
        for _, _, _, metrics in outs:
            for r in read_streaming_metrics(self.spark, metrics).collect():
                walls[r.query].append(r.wall_ms / 1e3)
                state[r.query] = max(state[r.query], r.state_rows)
        out = {}
        for q, layer in QUERY_LAYERS.items():
            out[f"{layer}.batch_p50_s"] = float(np.median(walls[q])) if walls[q] else 0.0
            out[f"{layer}.batch_tail_s"] = tail(walls[q]) if walls[q] else 0.0
            out[f"{layer}.state_rows_peak"] = state[q]
        return out


WORKLOADS = {"er_batch": ErBatch, "dedup_stream": DedupStream}
