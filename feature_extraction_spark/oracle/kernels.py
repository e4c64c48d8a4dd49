"""Test-only pandas/numpy oracle implementing the reference kernels' math.

Written from scratch (vectorized numpy, not the reference's loops) but
semantically identical to the cited reference functions — used only by
pytest to assert ``numpy.allclose`` parity of the Spark engine's output at
each entity. Deviations that the engine deliberately makes (documented in
SURVEY.md §4.1) are mirrored here.
"""

from __future__ import annotations

import re

import numpy as np

NAN = float("nan")


def tokenize(text: str | None) -> list[str]:
    """Literal single-space split keeping empty tokens
    (reference: extract_verbosity_stats.py:63); None tokenizes like ''
    (mirrors functions/text.py:tokenize_expr)."""
    return (text or "").split(" ")


_VOWEL_RE = re.compile(r"[aeiouy]+")


def syllable_count(word: str) -> int:
    """Deterministic heuristic mirroring functions/text.py:syllable_count_expr
    (documented deviation from textstat.syllable_count)."""
    if len(word) == 0:
        return 0
    groups = len(_VOWEL_RE.findall(word.lower()))
    return groups if groups > 0 else 1


def _bundle(values, prefix: str, std_name: str) -> dict[str, float]:
    arr = np.asarray(values, dtype=float)
    if arr.size == 0:
        return {f"{prefix}_{k}": NAN for k in ("mean", "median", std_name, "min", "max")}
    return {
        f"{prefix}_mean": float(np.mean(arr)),
        f"{prefix}_median": float(np.median(arr)),
        f"{prefix}_{std_name}": float(np.std(arr)),  # population std, ddof=0
        f"{prefix}_min": float(np.min(arr)),
        f"{prefix}_max": float(np.max(arr)),
    }


def verbosity_stats(texts: list[str]) -> dict[str, float]:
    """Math of reference get_verbosity_stats
    (extract_verbosity_stats.py:10-67), with the heuristic syllable counter."""
    segs = [tokenize(t) for t in texts]
    wcs = [len(s) for s in segs]
    all_words = [w for s in segs for w in s]
    out = {}
    out.update(_bundle(wcs, "wc", "stdev"))
    total = float(sum(wcs)) if wcs else NAN
    out["total_count"] = total if wcs else NAN
    long_ct = sum(1 for w in all_words if len(w) > 6)
    out["lw_count"] = (long_ct / total) if (wcs and total) else NAN
    out["word_len"] = float(np.mean([len(w) for w in all_words])) if all_words else NAN
    out.update(_bundle([syllable_count(w) for w in all_words], "syll", "stdev"))
    return out


def mattr(words: list[str], window: int) -> float:
    """Moving-average type-token ratio
    (reference: extract_lexical_diversity.py:10-52), incl. the short-group
    fallback window=len(words)."""
    n = len(words)
    if n == 0:
        return NAN
    w = min(window, n)
    ttrs = []
    for i in range(0, n - w + 1):
        ttrs.append(len(set(words[i : i + w])) / float(w))
    return float(np.mean(ttrs))


def honore(words: list[str]) -> float:
    """Honoré's statistic with the reference's epsilon smoothing
    (extract_lexical_diversity.py:55-69)."""
    n = len(words)
    if n == 0:
        return NAN
    uniq, counts = np.unique(words, return_counts=True)
    v = len(uniq)
    v1 = int(np.sum(counts == 1))
    eps = 1e-5
    return float(100 * np.log(n / float(1 - v1 / float(v + eps))))


def lexdiv_stats(texts: list[str]) -> dict[str, float]:
    """Lexical-diversity pack over the group's turn texts joined in order
    (reference driver joins segment texts with ' ' before splitting)."""
    words = tokenize(" ".join(t or "" for t in texts)) if texts else []
    out = {f"MATTR_{w}": mattr(words, w) for w in (10, 25, 50)}
    out["HS"] = honore(words)
    return out


def nonverbal_stats(texts: list[str]) -> dict[str, float]:
    """Non-verbal token ratios (reference:
    kaldi_asr_features/extract_non_verbal.py:8-23); note the .strip() before
    the split. None tokenizes like ''."""
    tokens = [tok for t in texts for tok in (t or "").strip().split(" ")]
    total = len(tokens)
    if not total:
        return {"laughter": NAN, "noise": NAN, "unk": NAN}
    return {
        "laughter": tokens.count("[laughter]") / total,
        "noise": tokens.count("[noise]") / total,
        "unk": tokens.count("<unk>") / total,
    }


def conf_stats(scores: list[float]) -> dict[str, float]:
    """ASR-confidence stat bundle
    (reference: kaldi_asr_features/extract_asr_conf_feats.py:11-22)."""
    if not scores:
        return {f"conf_{k}": NAN for k in ("max", "mean", "std", "min", "med")}
    arr = np.asarray(scores, dtype=float)
    return {
        "conf_max": float(arr.max()),
        "conf_mean": float(arr.mean()),
        "conf_std": float(np.std(arr)),
        "conf_min": float(arr.min()),
        "conf_med": float(np.median(arr)),
    }


def timing_stats(times: dict[str, list[float]], total_duration: float) -> dict[str, float]:
    """Timing feature kernel math (reference:
    timing_features/extract_word_phone_timing.py:10-71). Segment durations in
    seconds; words/silences/phones in ms."""
    sound_types = ["segments", "silences", "words", "wps"]
    if "phones" in times:
        sound_types = ["segments", "silences", "words", "phones", "wps", "pps"]
    out = {}
    for st in sound_types:
        out.update(_bundle(times[st], st, "std"))
        # reference names: {st}_med not _median
        out[f"{st}_med"] = out.pop(f"{st}_median")
    sil_dur = float(np.sum(times["silences"])) * 0.001
    spk_dur = float(np.sum(times["segments"]))
    out["sil_duration"] = sil_dur
    out["spk_duration"] = spk_dur
    out["spk_sil_ratio"] = spk_dur / sil_dur if sil_dur else NAN
    out["sps"] = len(times["silences"]) / spk_dur if spk_dur else NAN
    out["wps"] = len(times["words"]) / spk_dur if spk_dur else NAN
    out["sil_count"] = float(len(times["silences"]))
    out["short_utt_count"] = float(len([x for x in times["segments"] if x <= 1]))
    out["segment_count"] = float(len(times["segments"]))
    out["word_count"] = float(len(times["words"]))
    if "phones" in times:
        out["pps"] = len(times["phones"]) / spk_dur if spk_dur else NAN
        out["phone_count"] = float(len(times["phones"]))
    out["total_duration"] = total_duration
    out["spk_ratio"] = spk_dur / total_duration if total_duration else NAN
    out["sil_ratio"] = sil_dur / total_duration if total_duration else NAN
    if total_duration:
        out["segs_per_min"] = len(times["segments"]) / (total_duration / 60.0)
        out["short_utts_per_min"] = out["short_utt_count"] / (total_duration / 60.0)
    else:
        out["segs_per_min"] = NAN
        out["short_utts_per_min"] = NAN
    return out


# ------------------------------------------------------------ Gopher rules


def gopher_stats(text: str | None) -> dict[str, float]:
    """Pure-python mirror of ops/gopher.py:with_repetition_features — the
    pinned Gopher repetition/quality semantics (see that module's docstring
    for the exact definitions; Rae et al. 2021 Appendix A)."""
    from collections import Counter

    text = text or ""
    words = [w for w in re.split(r"\s+", text.lower()) if w]
    n_words = len(words)
    tot = sum(len(w) for w in words)
    out: dict[str, float] = {
        "gq_n_words": float(n_words),
        "gq_total_chars": float(tot),
        "mean_word_len": tot / n_words if n_words else NAN,
    }

    def seg_stats(pattern: str, prefix: str) -> None:
        segs = [s.strip() for s in re.split(pattern, text)]
        segs = [s for s in segs if s]
        n, nd = len(segs), len(dict.fromkeys(segs))
        ch = sum(len(s) for s in segs)
        chd = sum(len(s) for s in dict.fromkeys(segs))
        out[f"dup_{prefix}_frac"] = (n - nd) / n if n else NAN
        out[f"dup_{prefix}_char_frac"] = (ch - chd) / ch if ch else NAN

    seg_stats(r"\n", "line")
    seg_stats(r"\n{2,}", "para")

    lines = [s.strip() for s in re.split(r"\n", text)]
    lines = [s for s in lines if s]
    n_lines = len(lines)
    bullets = ("•", "‣", "◦", "⁃", "-", "*")
    bullet = sum(1 for s in lines if s.startswith(bullets))
    ellipsis = sum(1 for s in lines if s.endswith("...") or s.endswith("…"))
    out["bullet_line_frac"] = bullet / n_lines if n_lines else NAN
    out["ellipsis_line_frac"] = ellipsis / n_lines if n_lines else NAN

    symbols = text.count("#") + len(re.findall(r"\.\.\.", text)) + text.count("…")
    out["symbol_word_ratio"] = symbols / n_words if n_words else NAN
    alpha = sum(1 for w in words if re.search(r"[a-z]", w))
    out["alpha_word_frac"] = alpha / n_words if n_words else NAN
    req = {"the", "be", "to", "of", "and", "that", "have", "with"}
    out["stopword_hits"] = float(len(req & set(words)))

    def cap1(x: float) -> float:
        return x if x != x else min(1.0, x)  # NaN passes through

    for n in range(2, 11):
        grams = Counter(
            " ".join(words[i : i + n]) for i in range(len(words) - n + 1)
        )
        if n in (2, 3, 4):
            if grams:
                cnt, glen = max(
                    (c, len(g) - (n - 1)) for g, c in grams.items()
                )
                top = cnt * glen
            else:
                top = 0
            out[f"top_{n}gram_char_frac"] = cap1(top / tot if tot else NAN)
        else:
            dup = sum(
                c * (len(g) - (n - 1)) for g, c in grams.items() if c > 1
            )
            out[f"dup_{n}gram_char_frac"] = cap1(dup / tot if tot else NAN)
    return out


# ------------------------------------------------------------- BM25 / TFIDF


def bm25_scores(
    texts: dict[int, str], query: str, k1: float = 1.2, b: float = 0.75
) -> dict[int, float]:
    """Pure-python mirror of ops/ranking.py:bm25_topk (Lucene idf form).
    Returns scores for every doc matching at least one query term."""
    import math

    qterms: list[str] = []
    for w in re.split(r"\s+", query.lower()):
        if w and w not in qterms:
            qterms.append(w)
    toks = {
        i: [w for w in re.split(r"\s+", (t or "").lower()) if w]
        for i, t in texts.items()
    }
    n = len(toks)
    avgdl = sum(len(ws) for ws in toks.values()) / n if n else float("nan")
    dfreq = {
        t: sum(1 for ws in toks.values() if t in ws) for t in qterms
    }
    out: dict[int, float] = {}
    for i, ws in toks.items():
        s = 0.0
        hit = False
        for t in qterms:
            tf = ws.count(t)
            if tf == 0:
                continue
            hit = True
            idf = math.log(1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(ws) / avgdl))
        if hit:
            out[i] = s
    return out


def bigram_perplexity(
    train_texts: list[str | None],
    score_texts: list[str | None],
    k: float = 0.1,
) -> list[float]:
    """Pure-python mirror of ops/lm.py (add-k bigram model, self- or
    held-out scoring). Returns log-perplexity per score doc (NaN for
    empty/NULL docs)."""
    import math
    from collections import Counter

    def ws(t: str | None) -> list[str]:
        return [w for w in re.split(r"\s+", (t or "").lower()) if w]

    uni: Counter = Counter()
    big: Counter = Counter()
    for t in train_texts:
        toks = ws(t)
        uni.update(toks)
        big.update(zip(toks, toks[1:]))
    total = sum(uni.values())
    vocab = len(uni)
    out: list[float] = []
    for t in score_texts:
        toks = ws(t)
        if not toks:
            out.append(NAN)
            continue
        lp = math.log((uni[toks[0]] + k) / (total + k * vocab))
        for w1, w2 in zip(toks, toks[1:]):
            lp += math.log((big[(w1, w2)] + k) / (uni[w1] + k * vocab))
        out.append(-lp / len(toks))
    return out
