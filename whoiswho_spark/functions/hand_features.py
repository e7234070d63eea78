"""Hand-crafted pair features — the reference's 36-dim feature vector
surface (SURVEY.md §2.5 rows 'IDF-weighted overlap', 'Coauthor TF-IDF',
'Jaro scores agg').

Semantics mirrored from /root/reference/whoiswho/character/
feature_process.py:

- ``other_features`` (:353-422): per (paper_attr, candidate_attr_list)
  field pair → 8 floats: [max_jaro, mean_jaro, max_card, mean_card,
  idf_overlap_paper, paper_ratio, idf_overlap_author, author_ratio],
  where card = token-set Jaccard, idf overlaps are idf-weighted common-
  token mass with per-field default idf (org 14.37 / venue 10.42 /
  title 14.79 / keywords 1 — :338-344), ratios divide by each side's
  total idf mass (+1e-8), rounded to 6.
- ``coauthor_tfidf_features`` (:303-335): 4 floats from name-rareness
  sums over matched coauthor sets.
- zero-vector early-exit when either side is empty (:357-359 contract:
  8 zeros).

The whole 36-vector = 4 coauthor + 8×(org, venue, title, keywords)
(:334-350). Exposed as one Arrow-batched pandas UDF per field pair —
the per-pair loop runs over one Arrow batch with dict lookups, the
reference's own inner-loop shape, minus multiprocessing.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whoiswho_spark.functions.similarity import get_jaro_distance

_NONWORD = re.compile(r"[\W_]")


def _clean(s: str) -> str:
    return " ".join(_NONWORD.sub(" ", s or "").split())


def other_features(
    paper_attr: str,
    author_attr_list: list[str],
    idf: dict[str, float],
    default_idf: float = 1.0,
) -> list[float]:
    """The 8-feature field comparison (feature_process.py:353-422)."""
    paper_attr = _clean(paper_attr)
    author_attr_list = [_clean(x) for x in (author_attr_list or [])]
    candi_string = " ".join(author_attr_list)
    if not paper_attr.strip() or not candi_string.strip():
        return [0.0] * 8

    paper_list = paper_attr.strip().lower().split()
    paper_set = set(paper_list)
    jaro_scores, card_scores = [], []
    for item in author_attr_list:
        if item == "":
            continue
        # pyjarowinkler's get_jaro_distance default (winkler=True,
        # scaling=0.1, unconditional boost + round-2dp) — the reference
        # call at feature_process.py:368
        jaro_scores.append(get_jaro_distance(paper_attr, item, p=0.1))
        item_set = set(item.split())
        card_scores.append(len(item_set & paper_set) / len(paper_set | item_set))
    jaro_scores = jaro_scores or [0.0]
    card_scores = card_scores or [0.0]

    wc_paper: dict[str, int] = {}
    for w in paper_list:
        wc_paper[w] = wc_paper.get(w, 0) + 1
    wc_auth: dict[str, int] = {}
    for w in candi_string.strip().lower().split():
        wc_auth[w] = wc_auth.get(w, 0) + 1

    inter = set(wc_paper) & set(wc_auth)
    score_paper = sum(idf.get(w, default_idf) * wc_paper[w] for w in inter)
    score_auth = sum(idf.get(w, default_idf) * wc_auth[w] for w in inter)
    total_paper = sum(idf.get(w, default_idf) * c for w, c in wc_paper.items())
    total_auth = sum(idf.get(w, default_idf) * c for w, c in wc_auth.items())

    return [
        float(max(jaro_scores)),
        float(sum(jaro_scores) / len(jaro_scores)),
        float(max(card_scores)),
        float(sum(card_scores) / len(card_scores)),
        float(score_paper),
        round(score_paper / (total_paper + 1e-8), 6),
        float(score_auth),
        round(score_auth / (total_auth + 1e-8), 6),
    ]


def coauthor_tfidf_features(
    paper_coauthors: list[str],
    candi_coauthors: list[str],
    name_uniq: dict[str, float],
    default_uniq: float = 1.0,
) -> list[float]:
    """4 coauthor name-rareness features (feature_process.py:303-335):
    matched-rareness sum, ratio vs paper total, matched count-weighted
    sum on the candidate side, ratio vs candidate total."""
    p = set(paper_coauthors or [])
    c_list = candi_coauthors or []
    c_count: dict[str, int] = {}
    for n in c_list:
        c_count[n] = c_count.get(n, 0) + 1
    matched = p & set(c_count)
    tfidf = sum(name_uniq.get(n, default_uniq) for n in matched)
    paper_total = sum(name_uniq.get(n, default_uniq) for n in p)
    counted = sum(name_uniq.get(n, default_uniq) * c_count[n] for n in matched)
    cand_total = sum(name_uniq.get(n, default_uniq) * c for n, c in c_count.items())
    return [
        float(tfidf),
        round(tfidf / (paper_total + 1e-8), 6),
        float(counted),
        round(counted / (cand_total + 1e-8), 6),
    ]


def get_name_uniq(name_c: str, name_uniq: dict[str, float], default_uniq: float = 10.0) -> float:
    """Per-segment name rareness sum (feature_process.py:175-182):
    split the CLEANED name, look each segment up in the rareness dict,
    default 10 per unknown segment."""
    return sum(
        name_uniq.get(seg.strip(" "), default_uniq)
        for seg in (name_c or "").lower().split()
    )


def coauthor_matcher_features(
    paper_names: list[str],
    candi_names_lists: list[list[str]],
    name_uniq: dict[str, float],
    default_uniq: float = 10.0,
) -> list[float]:
    """The reference-parity coauthor channel (feature_process.py:256-335):
    clean every raw name (clean_name, alpha-only fold), run the loose
    7-matcher battery paper-names × each candidate paper's names
    (MatchName at :312), and compute the 4 rareness features over the
    MATCHED cleaned set — unlike :py:func:`coauthor_tfidf_features`,
    which is the exact-intersection fast path.

    candi author counts are keyed by CLEANED name (:281-283); rareness is
    the per-segment sum of :py:func:`get_name_uniq`.
    """
    from whoiswho_spark.functions.name_match import clean_name, matched_coauthors

    paper_names = list(paper_names or [])[:50]
    name2clean: dict[str, str] = {}
    for n in paper_names:
        name2clean.setdefault(n, clean_name(n))
    candi2int: dict[str, int] = {}
    filtered: list[list[str]] = []
    for names in candi_names_lists or []:
        names = list(names or [])[:50]
        for n in names:
            c = name2clean.setdefault(n, clean_name(n))
            candi2int[c] = candi2int.get(c, 0) + 1
        filtered.append(names)
    if not paper_names or not candi2int:
        return [0.0] * 4

    coauthors: set[str] = set()
    for names in filtered:
        coauthors |= matched_coauthors(paper_names, names, name2clean, loose=True)

    def _uniq(c: str) -> float:
        return get_name_uniq(c, name_uniq, default_uniq)

    coauthor_tfidf = sum(_uniq(c) for c in coauthors)
    counted = sum(candi2int.get(c, 1) * _uniq(c) for c in coauthors)
    paper_tfidf = sum(_uniq(name2clean[n]) for n in paper_names)
    author_tfidf = sum(_uniq(c) * cnt for c, cnt in candi2int.items())
    return [
        float(coauthor_tfidf),
        round(coauthor_tfidf / (paper_tfidf + 1e-8), 6),
        float(counted),
        round(counted / (author_tfidf + 1e-8), 6),
    ]


def build_idf_table(
    df: DataFrame, tokens_col: str = "tokens", min_df: int = 1
) -> DataFrame:
    """(token, idf) with idf = ln(N / df) over document frequency — the
    builder for the reference's precomputed idf dicts
    (feature_process.py:34-43 load precomputed JSON; formula is ours,
    documented; the reference ships the dicts without the formula)."""
    n_docs = df.count()
    return (
        df.select(F.explode(F.array_distinct(F.col(tokens_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= min_df)
        .select(
            "token",
            F.round(F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias("idf"),
        )
    )
