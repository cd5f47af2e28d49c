"""Plain-Python transcriptions of the reference's ``lookup_compound``
(symspellpy.py:639-865) and ``word_segmentation`` (symspellpy.py:867-1015).

They share no code with the engine: each inner TOP lookup is a
brute-force scan handed in by the caller (``top(q) -> (term, distance,
count) | None``), so the engine's two routes, which share one kernel
per operator, are checked against an opinion that is not theirs.
"""

from __future__ import annotations

import math
import re
import string
import unicodedata

MAX_INT64 = 2**63 - 1


def levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


class BruteTop:
    """Verbosity.TOP by scanning every term within ``max_ed``: the
    closest term, then the most frequent, then the smallest, under
    ``distance`` (an unbounded two-string distance). Answers are
    cached."""

    def __init__(self, vocab: dict, max_ed: int, distance=levenshtein):
        self.max_ed = max_ed
        self.distance = distance
        self.cache: dict = {}
        self.by_len: dict = {}
        for term, count in vocab.items():
            self.by_len.setdefault(len(term), []).append(
                (term, int(count), frozenset(term))
            )

    def __call__(self, q: str):
        if q not in self.cache:
            self.cache[q] = self._scan(q)
        return self.cache[q]

    def _scan(self, q: str):
        d_max = self.max_ed
        qchars = frozenset(q)
        best = None
        for n in range(len(q) - d_max, len(q) + d_max + 1):
            for term, count, chars in self.by_len.get(n, ()):
                # each character one side lacks costs an edit: exact prefilter
                if len(qchars - chars) > d_max or len(chars - qchars) > d_max:
                    continue
                d = self.distance(q, term)
                if d <= d_max and (best is None or (d, -count, term) < best):
                    best = (d, -count, term)
        if best is None:
            return None
        d, neg_count, term = best
        return term, d, -neg_count


def lookup_compound(
    phrase: str,
    top,
    n: float,
    max_ed: int,
    distance=levenshtein,
    bigrams: dict | None = None,
    token_re: str = r"[^\W_]+['’]*[^\W_]*",
):
    """symspellpy.py:688-865 with the default options: merge check,
    split scan with bigram or Naive-Bayes counts, unknown fallbacks,
    joined count. -> ``(term, distance, count, replaced_words)``."""
    terms = re.findall(token_re, phrase.lower())
    bigram_min = min(bigrams.values()) if bigrams else MAX_INT64

    def unknown(term):
        return term, max_ed + 1, 10 // 10 ** len(term)

    parts: list = []
    replaced: dict = {}
    is_last_combi = False
    for i, term in enumerate(terms):
        sugg = top(term)
        if i > 0 and not is_last_combi:
            combi = top(terms[i - 1] + term)
            if combi is not None:
                best_1 = parts[-1]
                best_2 = sugg if sugg is not None else unknown(term)
                distance_1 = best_1[1] + best_2[1]
                if distance_1 >= 0 and (
                    combi[1] + 1 < distance_1
                    or (
                        combi[1] + 1 == distance_1
                        and combi[2] > best_1[2] / n * best_2[2]
                    )
                ):
                    parts[-1] = (combi[0], combi[1] + 1, combi[2])
                    replaced[terms[i - 1]] = combi[0]
                    is_last_combi = True
                    continue
        is_last_combi = False
        if sugg is not None and (sugg[1] == 0 or len(term) == 1):
            parts.append(sugg)
            continue
        split_best = sugg
        if len(term) > 1:
            for j in range(1, len(term)):
                s1 = top(term[:j])
                s2 = top(term[j:]) if s1 is not None else None
                if s2 is None:
                    continue
                tmp_term = s1[0] + " " + s2[0]
                tmp_dist = distance(term, tmp_term)
                if tmp_dist > max_ed:
                    tmp_dist = max_ed + 1
                if split_best is not None:
                    if tmp_dist > split_best[1]:
                        continue
                    if tmp_dist < split_best[1]:
                        split_best = None
                if bigrams and tmp_term in bigrams:
                    tmp_count = bigrams[tmp_term]
                    if sugg is not None:
                        if s1[0] + s2[0] == term:
                            tmp_count = max(tmp_count, sugg[2] + 2)
                        elif sugg[0] in (s1[0], s2[0]):
                            tmp_count = max(tmp_count, sugg[2] + 1)
                    elif s1[0] + s2[0] == term:
                        tmp_count = max(tmp_count, max(s1[2], s2[2]) + 2)
                else:
                    tmp_count = min(bigram_min, int(s1[2] / n * s2[2]))
                if split_best is None or tmp_count > split_best[2]:
                    split_best = (tmp_term, tmp_dist, tmp_count)
        part = split_best if split_best is not None else unknown(term)
        parts.append(part)
        replaced[term] = part[0]
    joined = " ".join(p[0] for p in parts)
    count = n
    for p in parts:
        count *= p[2] / n
    return joined, distance(phrase, joined), min(int(count), MAX_INT64), replaced


def word_segmentation(
    phrase: str, top, n: float, max_word_len: int, ignore: str | None = None
):
    """symspellpy.py:906-1013: the triangular DP over every (start,
    length) part with a circular composition buffer; ``ignore`` is the
    reference's ``ignore_token``. -> ``(segmented, corrected,
    distance_sum, log_prob_sum)``; an empty phrase gets the empty
    composition (the reference raises)."""
    phrase = unicodedata.normalize("NFKC", phrase).replace("-", "")
    if not phrase:
        return "", "", 0, 0.0

    def lookup(q):
        # symspellpy.py:413-428: an exact hit wins, then the ignore
        # pattern answers before any fuzzy search
        hit = top(q)
        if hit is not None and hit[1] == 0:
            return hit
        if ignore is not None and re.match(ignore, q) is not None:
            return q, 0, 1
        return hit

    array_size = min(max_word_len, len(phrase))
    comps = [("", "", 0, 0.0)] * array_size
    idx = -1
    for j in range(len(phrase)):
        imax = min(len(phrase) - j, max_word_len)
        for i in range(1, imax + 1):
            part = phrase[j : j + i]
            separator_len = 0
            top_ed = 0
            if part[0].isspace():
                part = part[1:]
            else:
                separator_len = 1
            top_ed += len(part)
            part = part.replace(" ", "")
            top_ed -= len(part)
            result = lookup(part.lower())
            if result is not None:
                top_result = result[0]
                if len(part) > 0 and part[0].isupper():
                    top_result = top_result.capitalize()
                top_ed += result[1]
                top_log_prob = math.log10(float(result[2]) / float(n))
            else:
                top_result = part
                top_ed += len(part)
                top_log_prob = math.log10(10.0 / n / math.pow(10.0, len(part)))
            dest = (i + idx) % array_size
            if j == 0:
                comps[dest] = (part, top_result, top_ed, top_log_prob)
            elif (
                i == max_word_len
                or (
                    (
                        comps[idx][2] + top_ed == comps[dest][2]
                        or comps[idx][2] + separator_len + top_ed == comps[dest][2]
                    )
                    and comps[dest][3] < comps[idx][3] + top_log_prob
                )
                or comps[idx][2] + separator_len + top_ed < comps[dest][2]
            ):
                if (
                    len(top_result) == 1 and top_result[0] in string.punctuation
                ) or (len(top_result) == 2 and top_result.startswith("'")):
                    comps[dest] = (
                        comps[idx][0] + part,
                        comps[idx][1] + top_result,
                        comps[idx][2] + top_ed,
                        comps[idx][3] + top_log_prob,
                    )
                else:
                    comps[dest] = (
                        comps[idx][0] + " " + part,
                        comps[idx][1] + " " + top_result,
                        comps[idx][2] + separator_len + top_ed,
                        comps[idx][3] + top_log_prob,
                    )
        idx = (idx + 1) % array_size
    return comps[idx]
