"""Name normalization / matching functions (SURVEY.md §2.2 rows
unify_name_order, cleaning_name, author-name-vs-block match,
get_author_index).

Exposed both as plain Python (unit-testable against reference behavior)
and as Arrow-batched pandas UDFs for DataFrame use. The reference's
CJK→pinyin step (is_chinese.py:8-43) depends on ``pypinyin``/``pinyin``,
absent in this environment — the romanization runs on the VENDORED
contract table (functions/pinyin.py + data/cjk_pinyin.json; CJK goldens
minted from the reference with the same table as the package stub, see
tools/mint_cjk_pinyin_goldens.py). Characters outside the table pass
through unchanged: honest unknowns, never a wrong romanization.
"""

from __future__ import annotations

import re
import unicodedata

from whoiswho_spark.constants import NAMES_WRONG
from whoiswho_spark.functions.pinyin import has_han, lazy_pinyin, pinyin_get
from whoiswho_spark.functions.translit import ascii_fold


def unify_name_order(name: str) -> tuple[str, str]:
    """'f_l' → ('fl','lf'); 3 tokens → (t0+t1+t2, t2+t0+t1)
    (/root/reference/whoiswho/utils.py:163-178 behavior, incl. the
    quirk that a 3-token name's reverse puts the LAST token first)."""
    tok = name.split("_")
    if len(tok) > 2:
        return tok[0] + tok[1] + tok[2], tok[2] + tok[0] + tok[1]
    if len(tok) == 1:
        # mononym: no order to unify — both orderings are the name itself
        return tok[0], tok[0]
    return tok[0] + tok[1], tok[1] + tok[0]


def cleaning_name(name: str) -> str:
    """lowercase → pinyin → ascii-fold → non-alpha→space → collapse.
    Reference: is_chinese.py:8-43 (pypinyin NORMAL + unidecode); here
    the vendored transliteration fold (functions/translit.py) replaces
    unidecode and the vendored romanization table (functions/pinyin.py,
    goldens minted from the reference with the same tables as the
    package stubs) replaces pypinyin."""
    if name is None:
        return ""
    s = name.lower()
    if has_han(s):
        s = " ".join(lazy_pinyin(s))
    s = ascii_fold(s)
    # the reference keeps isalpha() chars, not [a-z] (mind/utils.py:
    # 84-91): NFKD-surviving letters (ß, out-of-table Han) stay as
    # opaque tokens instead of vanishing — CJK-golden-gated
    s = "".join(ch if ch.isalpha() else " " for ch in s)
    return " ".join(s.split())


def author_matches_block(author_name: str, block_name: str, block_reverse: str) -> bool:
    """The coauthor-vs-target split (data_process.py:146-167): alpha-only
    lowercase concat equals the block name or its reverse."""
    flat = "".join(filter(str.isalpha, author_name or "")).lower()
    return flat == block_name or flat == block_reverse


def get_author_index(name: str, dnames: list[str]) -> int:
    """Fuzzy author-slot location (utils.py:99-161): 3 stages —
    token containment hits, first-char gap disambiguation with 0.9
    partial-credit for initials appearing inside remaining tokens, and a
    substring-containment fallback; -1 when ambiguous."""
    name_l = cleaning_name((name or "").lower()).split()
    dname_ls = [cleaning_name(d.replace(".", " ").lower()).split() for d in dnames]

    hits = []
    for aidx, dname_l in enumerate(dname_ls):
        if any(n in dname_l for n in name_l):
            first_char = [t[0] for t in dname_l]
            rest = [n for n in name_l if n not in dname_l]
            hits.append((aidx, dname_l, first_char, rest))
    if len(hits) == 1:
        return hits[0][0]

    stage2 = []
    for aidx, dname_l, first_char, rest in hits:
        fc = list(first_char)
        for i in (dname_l.index(n) for n in name_l if n in dname_l):
            fc[i] = ""
        if any(n[0] in fc for n in rest):
            stage2.append((aidx, [c for c in fc if c], rest))
    if len(stage2) == 1:
        return stage2[0][0]

    best_gap, best = 9999.0, -1
    for aidx, fc, rest in stage2:
        rest_fc = [n[0] for n in rest]
        gap = sum(1.0 for n in rest_fc if n not in fc)
        joined = "".join(rest)
        gap += sum(
            0.9 if c in joined else 1.0 for c in fc if c not in rest_fc
        )
        if gap < best_gap:
            best_gap, best = gap, aidx
        elif gap == best_gap:
            best = -1

    if best == -1:
        contain = [
            aidx
            for aidx, d in enumerate(dnames)
            if all(n in d for n in name_l)
        ]
        if len(contain) == 1:
            return contain[0]
    return best


def match_name(name: str, target_name: str) -> bool:
    """Regex-form fuzzy name match vs a 'first_last' target
    (/root/reference/whoiswho/character/match_name.py:31-94 semantics,
    incl. the curated wrong-name substitution table
    (constants.NAMES_WRONG, ref match_name.py:5-18,79-85); only the
    CJK→pinyin branch stays gated out — the pinyin package is absent):

    - ascii-fold, lowercase, non-alpha → space, tokenize; <2 tokens → no.
    - 3 tokens: (first middle last) matches if t0 prefixes first and t2
      prefixes last; trailing 'a'/'c' noise tokens dropped.
    - t0-as-last: remaining tokens in order (or a 2-letter abbreviation's
      chars in order, or reversed single-char initials) must thread
      through first_name.
    - t-1-as-last: symmetric with the leading tokens.
    """
    first_name, _, last_name = target_name.partition("_")
    first_name = first_name.replace("-", "")
    if any("一" <= ch <= "龥" for ch in name):
        # CJK branch (ref match_name.py:38-44): strip to CJK+space,
        # romanize (vendored table — pinyin.get(format='strip') parity;
        # unknown characters pass through → conservative non-match),
        # compare to last+first concat.
        cjk = re.sub("[^ 一-龥]", "", name).strip()
        return pinyin_get(cjk).replace(" ", "") == last_name + first_name
    folded = (
        unicodedata.normalize("NFKD", name).encode("ascii", "ignore").decode("ascii")
    )
    tokens = re.sub("[^a-zA-Z]", " ", folded.lower()).split()
    if len(tokens) < 2:
        return False
    if len(tokens) == 3:
        if re.match(tokens[0], first_name) and re.match(tokens[-1], last_name):
            return True
        if tokens[-1] in ("a", "c"):
            tokens = tokens[:-1]
    if re.match(tokens[0], last_name):
        if len(tokens) == 2 and len(tokens[1]) == 2:
            if re.match(f"{tokens[1][0]}.*{tokens[1][1]}.*", first_name):
                return True
        if re.match(".*".join(tokens[1:]) + ".*", first_name):
            return True
        if len(tokens) == 3 and len(tokens[1]) == 1 and len(tokens[2]) == 1:
            if re.match(f"{tokens[2]}.*{tokens[1]}.*", first_name):
                return True
    if re.match(tokens[-1], last_name):
        candidate = "".join(tokens[:-1])
        remain = next(
            (right for wrong, right in NAMES_WRONG if candidate in wrong),
            ".*".join(tokens[:-1]) + ".*",
        )
        if re.match(remain, first_name):
            return True
        if len(tokens) == 3 and len(tokens[0]) == 1 and len(tokens[1]) == 1:
            if re.match(f"{tokens[1]}.*{tokens[0]}.*", first_name):
                return True
    return False
