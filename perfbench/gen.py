"""Seeded input generator for the benchmark workloads.

Uses numpy, pyarrow and csv only: no Spark, and nothing from the package
under test, so a change to the program cannot change a workload's inputs.
The same (workload, seed) always yields byte-identical files.

Run as ``python3 perfbench/gen.py <workload> <seed> <out_dir>``; the
benchmark calls it in a child process so that generation stays out of the
measured process's memory and set-up time. A finished directory holds
``meta.json`` (written last), which also records the sizes the checks use.
"""

from __future__ import annotations

import csv
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# -- sizes (the README's "inputs" section describes them) -------------------
PIT_TURNS = 40_000          # fixed turn count per seed
PIT_FILES = 4               # transcripts parquet files (scan parallelism)
PIT_SUBJECTS = 200          # plus one hot subject
HOT_SUBJECT_SHARE = 0.25    # share of conversations on the hot subject
PIT_CUT_QUANTILE = 0.6      # leakage check: keep rows with ts <= this quantile

ASR_CALLS = 300             # one recognizer CSV per call
ASR_SEGMENTS = 8_000        # fixed segment count per seed
ASR_BATCHES = 15            # micro-batches of 20 calls each
ASR_WORDLESS_EVERY = 50     # every 50th segment (by position over all calls)
                            # has no words: 2%, at the same positions for
                            # every seed
BACKLOG_CALLS = 20_000      # earlier calls folded in with the first batch
BACKLOG_ROWS = 40_000

EPOCH0 = 1_704_067_200      # 2024-01-01T00:00:00Z, whole seconds
SPAN_S = 30 * 86_400

_TOOLS = ["search", "calculator", "browser", "db"]
_APOSTROPHE_WORDS = ["don't", "can't", "it's", "we're", "i'm"]


def _vocab(rng: np.random.Generator, n: int = 3000) -> np.ndarray:
    """Pseudo-words of 1-12 ASCII letters; a Zipf rank order over them."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(1, 13, size=n)
    words = {"".join(rng.choice(letters, size=k)) for k in lens}
    return np.array(sorted(words) + _APOSTROPHE_WORDS)


def _zipf_probs(n: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _texts(rng: np.random.Generator, n: int, vocab: np.ndarray) -> list[str]:
    """Turn texts: Zipf words, a log-normal word count, 2% empty, 1%
    whitespace-only and 3% with a double space (an empty token)."""
    probs = _zipf_probs(len(vocab))
    counts = np.clip(rng.lognormal(2.2, 0.8, size=n).astype(int), 1, 120)
    words = vocab[rng.choice(len(vocab), size=int(counts.sum()), p=probs)]
    kind = rng.random(n)
    out, pos = [], 0
    for i, c in enumerate(counts):
        w = words[pos : pos + c]
        pos += c
        if kind[i] < 0.02:
            out.append("")
        elif kind[i] < 0.03:
            out.append(" " * int(1 + (c % 3)))
        elif kind[i] < 0.06:
            out.append(" ".join(w[: max(1, c // 2)]) + "  " + " ".join(w[c // 2 :]))
        else:
            out.append(" ".join(w))
    return out


def _pareto_sizes(rng, total: int, alpha: float, lo: int, hi: int) -> np.ndarray:
    """Truncated-Pareto sizes whose sum is exactly ``total``, drawn at
    evenly spaced quantiles and shuffled: every seed gets the same size
    distribution (so the same skew), in a different order."""

    def grid(n: int) -> np.ndarray:
        u = (np.arange(n) + 0.5) / n
        return np.clip(np.ceil(lo * (1 - u) ** (-1 / alpha)), lo, hi).astype(np.int64)

    n = 1
    while grid(n).sum() < total:
        n *= 2
    a, b = n // 2, n
    while b - a > 1:
        m = (a + b) // 2
        a, b = (m, b) if grid(m).sum() < total else (a, m)
    sizes = grid(b)
    excess = int(sizes.sum() - total)  # trim one row from that many sizes
    sizes[np.argsort(-sizes, kind="stable")[1 : excess + 1]] -= 1
    return rng.permutation(sizes)


def _ts(seconds: np.ndarray) -> pa.Array:
    return pa.array(seconds.astype("int64") * 1_000_000, pa.timestamp("us", tz="UTC"))


def gen_pit(seed: int, out: str) -> dict:
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(rng)
    sizes = _pareto_sizes(rng, PIT_TURNS, alpha=1.2, lo=2, hi=3000)
    n_conv = len(sizes)
    conv_ids = np.array([f"c{seed % 1000:03d}_{i:06d}" for i in range(n_conv)])
    subj = np.where(
        rng.random(n_conv) < HOT_SUBJECT_SHARE,
        "subj_hot",
        np.char.add("subj_", rng.integers(0, PIT_SUBJECTS, n_conv).astype(str)),
    )
    conv_of = np.repeat(np.arange(n_conv), sizes)
    turn_idx = np.concatenate([np.arange(k) for k in sizes]).astype(np.int32)
    # gaps: mostly short (0 s gives duplicate timestamps), 6% session breaks
    gaps = np.where(
        rng.random(PIT_TURNS) < 0.06,
        rng.integers(301, 4000, PIT_TURNS),
        np.floor(rng.exponential(25.0, PIT_TURNS)).astype(np.int64),
    )
    gaps[turn_idx == 0] = 0
    start = EPOCH0 + rng.integers(0, SPAN_S, n_conv)
    ts = start[conv_of] + np.concatenate(
        [np.cumsum(g) for g in np.split(gaps, np.cumsum(sizes)[:-1])]
    )
    tool_mask = rng.random(PIT_TURNS) < 0.15
    role = np.where(tool_mask, "tool", np.where(turn_idx % 2 == 0, "user", "assistant"))
    tool = np.where(tool_mask, np.array(_TOOLS)[rng.integers(0, 4, PIT_TURNS)], None)
    text = _texts(rng, PIT_TURNS, vocab)

    order = rng.permutation(PIT_TURNS)  # files are not pre-sorted
    table = pa.table(
        {
            "conv_id": pa.array(conv_ids[conv_of][order]),
            "turn_idx": pa.array(turn_idx[order], pa.int32()),
            "role": pa.array(role[order]),
            "text": pa.array([text[i] for i in order]),
            "tool": pa.array(tool[order].tolist(), pa.string()),
            "ts": _ts(ts[order]),
            "subject_id": pa.array(subj[conv_of][order]),
        }
    )

    # per-conversation event series: unique whole-second ts per conversation
    ev_conv, ev_ts = [], []
    conv_start = start
    conv_end = start + np.array([g.sum() for g in np.split(gaps, np.cumsum(sizes)[:-1])])
    for c in range(n_conv):
        k = max(1, int(sizes[c] // 3))
        lo, hi = conv_start[c] - 600, conv_end[c] + 1
        pick = rng.choice(int(hi - lo), size=min(k, int(hi - lo)), replace=False)
        ev_conv.append(np.full(len(pick), c))
        ev_ts.append(lo + np.sort(pick))
    ev_conv = np.concatenate(ev_conv)
    ev_ts = np.concatenate(ev_ts)
    events = pa.table(
        {
            "conv_id": pa.array(conv_ids[ev_conv]),
            "ts": _ts(ev_ts),
            "ev_score": pa.array(np.round(rng.normal(0, 1, len(ev_ts)), 6)),
            "ev_kind": pa.array(np.array(["a", "b", "c"])[rng.integers(0, 3, len(ev_ts))]),
        }
    )

    # per-subject dimension: 1-4 tier changes at unique ts per subject
    s_ids, s_ts = [], []
    for s in ["subj_hot"] + [f"subj_{i}" for i in range(PIT_SUBJECTS)]:
        k = int(rng.integers(1, 5))
        s_ids += [s] * k
        s_ts.append(EPOCH0 - 86_400 + np.sort(rng.choice(SPAN_S, size=k, replace=False)))
    s_ts = np.concatenate(s_ts)
    subjects = pa.table(
        {
            "subject_id": pa.array(s_ids),
            "ts": _ts(s_ts),
            "tier": pa.array(rng.integers(0, 5, len(s_ids)), pa.int64()),
        }
    )

    cut = int(np.quantile(ts, PIT_CUT_QUANTILE))
    _write_parquet_split(table, os.path.join(out, "transcripts"), PIT_FILES)
    _write_parquet_split(events, os.path.join(out, "events"), 1)
    _write_parquet_split(subjects, os.path.join(out, "subjects"), 1)
    sec = lambda t: pc.divide(t["ts"].cast(pa.int64()), 1_000_000)  # noqa: E731
    for name, t in (("transcripts", table), ("events", events), ("subjects", subjects)):
        keep = pc.less_equal(sec(t), cut)
        _write_parquet_split(
            t.filter(keep), os.path.join(out, "cut", name), PIT_FILES if name == "transcripts" else 1
        )
    largest = conv_ids[int(np.argmax(sizes))]
    sample = sorted({largest, *rng.choice(conv_ids, size=40, replace=False).tolist()})
    return {
        "rows": PIT_TURNS,
        "conversations": n_conv,
        "events": len(ev_ts),
        "subject_rows": len(s_ids),
        "cut_s": cut,
        "cut_rows": int((ts <= cut).sum()),
        "sample_convs": sample,
        "largest_conv_turns": int(sizes.max()),
    }


def _write_parquet_split(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(path, f"part-{i:03d}.parquet"),
        )


def _call_sizes() -> np.ndarray:
    """Segments per call: a truncated Pareto (alpha 1.5, 10 to 400) read at
    evenly spaced quantiles, the largest trimmed so that they sum to
    ASR_SEGMENTS. No randomness: every seed has the same sizes."""
    u = (np.arange(ASR_CALLS) + 0.5) / ASR_CALLS
    sizes = np.clip(np.ceil(10 * (1 - u) ** (-1 / 1.5)), 10, 400).astype(np.int64)
    sizes[np.argmax(sizes)] -= sizes.sum() - ASR_SEGMENTS
    return sizes


def gen_asr(seed: int, out: str) -> dict:
    """Micro-batches of per-call recognizer CSVs in the reference's layout
    (``word_timing`` is the Python repr of a list of {'Word','Duration',
    'Offset'} dicts in 100-ns units; words with an apostrophe come out
    double-quoted), plus a backlog of earlier calls' segment durations
    that the first batch folds into the feature store.

    Calls are dealt to batches round-robin by size, so batch ``b`` holds
    the same sizes (and segment count) for every seed; the seed changes
    the contents and the order within a batch."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 1500)
    probs = _zipf_probs(len(vocab))
    by_size = np.sort(_call_sizes())[::-1]
    batches = [rng.permutation(by_size[b::ASR_BATCHES]) for b in range(ASR_BATCHES)]
    os.makedirs(os.path.join(out, "calls"), exist_ok=True)
    header = ["audio_file_id", "segment_number", "text", "duration", "offset",
              "confidence", "word_timing"]
    g = 0  # segment position over all calls, batch by batch
    names, rows_of, bytes_of = [], [], []
    for b, sizes in enumerate(batches):
        names.append([])
        rows_of.append(int(sizes.sum()))
        bytes_of.append(0)
        for i, n in enumerate(sizes):
            call = f"call_{seed % 1000:03d}_{b:02d}_{i:02d}"
            rows = []
            t = int(rng.integers(0, 50_000_000))
            for s in range(int(n)):
                wordless = g % ASR_WORDLESS_EVERY == ASR_WORDLESS_EVERY // 2
                g += 1
                k = 0 if wordless else int(np.clip(rng.lognormal(2.0, 0.7), 1, 60))
                words = vocab[rng.choice(len(vocab), size=k, p=probs)].tolist()
                lead = int(rng.integers(0, 3_000_000))
                off = t + lead
                wt = []
                for w in words:
                    d = int(rng.integers(1_000_000, 6_000_000))
                    gap = int(rng.integers(0, 2_000_000)) if rng.random() < 0.4 else 0
                    wt.append({"Word": w, "Duration": d, "Offset": off + gap})
                    off += gap + d
                trail = int(rng.integers(0, 2_000_000)) if rng.random() < 0.5 else 0
                duration = (off + trail) - t if wt else int(rng.integers(2_000_000, 9_000_000))
                conf = "" if rng.random() < 0.02 else f"{rng.uniform(0.3, 1.0):.6f}"
                rows.append([call, s, " ".join(words), duration, t, conf, repr(wt)])
                t += duration + int(rng.integers(0, 20_000_000))
            path = os.path.join(out, "calls", f"{call}.csv")
            with open(path, "w", newline="") as f:
                # strings quoted, as a word_timing list holds commas; Spark's
                # CSV reader still reads an empty text or confidence as NULL
                wr = csv.writer(f, quoting=csv.QUOTE_NONNUMERIC)
                wr.writerow(header)
                wr.writerows(rows)
            names[b].append(call)
            bytes_of[b] += os.path.getsize(path)

    hist = np.array([f"h{seed % 1000:03d}_{i:06d}" for i in range(BACKLOG_CALLS)])
    conv = np.concatenate([hist, hist[rng.integers(0, BACKLOG_CALLS, BACKLOG_ROWS - BACKLOG_CALLS)]])
    v = np.round(rng.gamma(2.0, 2.5, len(conv)), 3)
    backlog = os.path.join(out, "backlog.parquet")
    pq.write_table(pa.table({"conv_id": pa.array(conv), "v": pa.array(v)}), backlog)
    sizes = np.concatenate(batches)
    largest = int(np.argmax([s.max() for s in batches]))
    return {
        "batch_rows": rows_of,
        "batch_calls": names,
        "batch_bytes": bytes_of,
        "backlog_rows": BACKLOG_ROWS,
        "backlog_bytes": os.path.getsize(backlog),
        "wordless": int(sum(1 for p in range(ASR_SEGMENTS)
                            if p % ASR_WORDLESS_EVERY == ASR_WORDLESS_EVERY // 2)),
        "largest_call": names[largest][int(np.argmax(batches[largest]))],
        "largest_call_segments": int(sizes.max()),
    }


GENERATORS = {"pit_features": gen_pit, "asr_feature_store": gen_asr}


def main(argv: list[str]) -> None:
    workload, seed, out = argv[0], int(argv[1]), argv[2]
    os.makedirs(out, exist_ok=True)
    meta = GENERATORS[workload](seed, out)
    meta.update({"workload": workload, "seed": seed})
    with open(os.path.join(out, "meta.json.tmp"), "w") as f:
        json.dump(meta, f)
    os.replace(os.path.join(out, "meta.json.tmp"), os.path.join(out, "meta.json"))


if __name__ == "__main__":
    main(sys.argv[1:])
