"""Expected outputs computed apart from the program: DuckDB SQL over the
same input files, and numpy over the raw rows. Each ``check_*`` returns a
list of failure messages (empty when the output is correct)."""

from __future__ import annotations

import ast
import csv
import glob
import math
import os
from collections import Counter

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

# Prefix of a failure that a known fault of the program causes on every
# run: the operation still counts as failed, but the run stays ``correct``.
KNOWN_FAULT = "known fault: "
RTOL = 1e-9
ATOL = 1e-9
SESSION_GAP_S = 300
TRAILING_S = 600
TRAILING_ROWS = 10
EVENT_TOLERANCE_S = 900
DURATION_UNITS = 1e7        # recognizer durations are in 100-ns units


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _num(s: pd.Series) -> np.ndarray:
    return pd.to_numeric(s, errors="coerce").astype("float64").to_numpy()


def _us(s: pd.Series) -> np.ndarray:
    """Timestamps (any unit or zone) as int64 epoch microseconds; NULL -> -1."""
    t = pd.to_datetime(s, utc=True)
    out = t.astype("int64", copy=False) // 1000 if t.dt.unit == "ns" else t.astype("int64")
    return np.where(t.isna(), -1, out)


def _compare(name, got: pd.DataFrame, exp: pd.DataFrame, exact, approx, times) -> list[str]:
    errs = []
    if len(got) != len(exp):
        return [f"{name}: {len(got)} rows, expected {len(exp)}"]
    for c in exact:
        g, e = got[c].astype(object).where(got[c].notna(), None), exp[c].astype(object).where(exp[c].notna(), None)
        if c in ("roll_turns_600s", "session_id"):
            g, e = _num(got[c]), _num(exp[c])
            bad = int((g != e).sum())
        else:
            bad = int((g.to_numpy() != e.to_numpy()).sum())
        if bad:
            errs.append(f"{name}.{c}: {bad} rows differ")
    for c in approx:
        g, e = _num(got[c]), _num(exp[c])
        bad = int((~np.isclose(g, e, rtol=RTOL, atol=ATOL, equal_nan=True)).sum())
        if bad:
            errs.append(f"{name}.{c}: {bad} rows differ")
    for c in times:
        bad = int((_us(got[c]) != _us(exp[c])).sum())
        if bad:
            errs.append(f"{name}.{c}: {bad} rows differ")
    return errs


# -- shared numpy kernels ---------------------------------------------------

def _syllables(w: str) -> int:
    if not w:
        return 0
    groups, inside = 0, False
    for ch in w.lower():
        v = ch in "aeiouy"
        groups += v and not inside
        inside = v
    return groups or 1


def _bundle(x: list[float]) -> tuple:
    """mean, median, population std, min, max; NaN for an empty list."""
    if not x:
        return (math.nan,) * 5
    a = np.asarray(x, dtype=float)
    return (a.mean(), float(np.median(a)), a.std(), a.min(), a.max())


def verbosity_expected(texts: list[str]) -> dict:
    tokens = [t.split(" ") for t in texts]
    wc = [len(t) for t in tokens]
    words = [w for t in tokens for w in t]
    total = float(sum(wc))
    out = dict(zip(("wc_mean", "wc_median", "wc_stdev", "wc_min", "wc_max"), _bundle(wc)))
    out["total_count"] = total
    out["lw_count"] = sum(len(w) > 6 for w in words) / total if total else math.nan
    out["word_len"] = sum(len(w) for w in words) / total if total else math.nan
    syll = [_syllables(w) for w in words]
    out.update(zip(("syll_mean", "syll_median", "syll_stdev", "syll_min", "syll_max"), _bundle(syll)))
    return out


def _bad_columns(got: dict, exp: dict) -> list[str]:
    return [k for k in exp if not np.isclose(float(got[k]) if got[k] is not None else math.nan,
                                             exp[k], rtol=RTOL, atol=ATOL, equal_nan=True)]


def _compare_rows(name: str, got: dict, exp: dict) -> list[str]:
    bad = _bad_columns(got, exp)
    return [f"{name}: {', '.join(bad)} differ"] if bad else []


# -- pit_features -----------------------------------------------------------

PIT_TURN_COLS = [
    "session_id", "prev_role", "role_transition", "gap_s", "roll_turns_600s",
    "roll_tool_rate_600s", "roll_gap_mean_600s", "roll_wc_mean_10", "tool_val",
    "tool_val_filled", "ev_score_ev", "ev_kind_ev", "ts_ev", "tier_subj", "ts_subj",
]
_PIT_EXACT = ["session_id", "prev_role", "role_transition", "roll_turns_600s",
              "ev_kind_ev", "tier_subj"]
_PIT_APPROX = ["gap_s", "roll_tool_rate_600s", "roll_gap_mean_600s", "roll_wc_mean_10",
               "tool_val", "tool_val_filled", "ev_score_ev"]
_PIT_TIMES = ["ts_ev", "ts_subj"]


def pit_expected(inputs: str) -> pd.DataFrame:
    """Window, backfill and as-of columns by DuckDB SQL over the input
    parquet; per-turn word counts by Python's own ``str.split(' ')``."""
    t = pq.read_table(os.path.join(inputs, "transcripts"))
    wc = pd.DataFrame({"wc": [len(s.split(" ")) for s in t.column("text").to_pylist()]})
    turns = t.select(["conv_id", "turn_idx", "role", "tool", "ts", "subject_id"]).to_pandas()
    turns["wc"] = wc["wc"].to_numpy()
    con = _con()
    con.register("turns", turns)
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{inputs}/events/*.parquet')")
    con.execute(f"CREATE VIEW subjects AS SELECT * FROM read_parquet('{inputs}/subjects/*.parquet')")
    sql = f"""
    WITH base AS (
      SELECT *, epoch_us(ts) AS us, epoch_us(ts)::DOUBLE / 1000000.0 AS sec,
             CASE WHEN tool IS NOT NULL THEN length(tool)::DOUBLE END AS tool_val,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER o) / 1000000.0 AS gap_s,
             lag(role) OVER o AS prev_role
      FROM turns WINDOW o AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
    ), win AS (
      SELECT *,
        sum(CASE WHEN gap_s > {SESSION_GAP_S} THEN 1 ELSE 0 END) OVER o_run AS session_id,
        CASE WHEN prev_role IS NULL THEN NULL ELSE prev_role || '->' || role END AS role_transition,
        count(*) OVER r AS roll_turns_600s,
        sum((tool IS NOT NULL)::INT) OVER r / count(*) OVER r AS roll_tool_rate_600s,
        avg(gap_s) OVER r AS roll_gap_mean_600s,
        avg(wc) OVER o_rows AS roll_wc_mean_10,
        last_value(tool_val IGNORE NULLS) OVER o_run AS tool_val_filled
      FROM base
      WINDOW o_run AS (PARTITION BY conv_id ORDER BY ts, turn_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             o_rows AS (PARTITION BY conv_id ORDER BY ts, turn_idx
                        ROWS BETWEEN {TRAILING_ROWS - 1} PRECEDING AND CURRENT ROW),
             r AS (PARTITION BY conv_id ORDER BY sec
                   RANGE BETWEEN {TRAILING_S} PRECEDING AND CURRENT ROW)
    ), ev AS (
      SELECT w.conv_id, w.turn_idx, e.ts AS e_ts, e.ev_score, e.ev_kind
      FROM win w ASOF LEFT JOIN events e ON w.conv_id = e.conv_id AND w.ts >= e.ts
    ), subj AS (
      SELECT w.conv_id, w.turn_idx, s.ts AS ts_subj, s.tier AS tier_subj
      FROM win w ASOF LEFT JOIN subjects s ON w.subject_id = s.subject_id AND w.ts >= s.ts
    )
    SELECT win.conv_id, win.turn_idx, win.ts, session_id, prev_role, role_transition, gap_s,
           roll_turns_600s, roll_tool_rate_600s, roll_gap_mean_600s, roll_wc_mean_10,
           tool_val, tool_val_filled,
           CASE WHEN epoch_us(win.ts) - epoch_us(e_ts) <= {EVENT_TOLERANCE_S} * 1000000
                THEN ev_score END AS ev_score_ev,
           CASE WHEN epoch_us(win.ts) - epoch_us(e_ts) <= {EVENT_TOLERANCE_S} * 1000000
                THEN ev_kind END AS ev_kind_ev,
           CASE WHEN epoch_us(win.ts) - epoch_us(e_ts) <= {EVENT_TOLERANCE_S} * 1000000
                THEN e_ts END AS ts_ev,
           tier_subj, ts_subj
    FROM win JOIN ev USING (conv_id, turn_idx) JOIN subj USING (conv_id, turn_idx)
    ORDER BY conv_id, turn_idx
    """
    exp = con.execute(sql).df()
    con.close()
    return exp


def pit_conv_expected(inputs: str, convs: list[str]) -> dict[str, dict]:
    t = pq.read_table(os.path.join(inputs, "transcripts"), columns=["conv_id", "text"]).to_pandas()
    t = t[t["conv_id"].isin(convs)]
    return {c: verbosity_expected(g["text"].tolist()) for c, g in t.groupby("conv_id")}


def _read_sorted(path: str, keys: list[str]) -> pd.DataFrame:
    return pq.read_table(path).to_pandas().sort_values(keys, kind="stable").reset_index(drop=True)


def check_pit(out: str, exp: pd.DataFrame, conv_exp: dict) -> list[str]:
    got = _read_sorted(out, ["conv_id", "turn_idx"])
    errs = _compare("pit", got, exp, _PIT_EXACT, _PIT_APPROX, _PIT_TIMES)
    if errs:
        return errs
    first = got.drop_duplicates("conv_id").set_index("conv_id")
    for c, e in conv_exp.items():
        errs += _compare_rows(f"pit.conv[{c}]", first.loc[c].to_dict(), e)
    return errs


def check_leakage(full_out: str, cut_out: str) -> list[str]:
    """Rows at or before the cut must carry the same turn-grain values
    whether or not the later rows exist."""
    full = _read_sorted(full_out, ["conv_id", "turn_idx"])
    cut = _read_sorted(cut_out, ["conv_id", "turn_idx"])
    keep = full.merge(cut[["conv_id", "turn_idx"]], on=["conv_id", "turn_idx"])
    return _compare("leakage", cut, keep, _PIT_EXACT, _PIT_APPROX, _PIT_TIMES)


# -- asr_feature_store: call features ---------------------------------------

def _mattr(words: list[str], w: int) -> float:
    n = len(words)
    if n == 0:
        return math.nan
    if n < w:
        return len(set(words)) / n
    cnt = Counter(words[:w])
    total = len(cnt)
    for i in range(w, n):
        cnt[words[i]] += 1
        cnt[words[i - w]] -= 1
        if cnt[words[i - w]] == 0:
            del cnt[words[i - w]]
        total += len(cnt)
    return total / (w * (n - w + 1))


# Columns computed from the segment texts. The recognizer-CSV reader reads
# an empty text field as NULL, and verbosity_stats then counts that segment
# as -1 words while lexdiv_stats drops it, where an empty text is one empty
# token (the package's own tokenizer rule): in a call with a wordless
# segment these columns differ.
ASR_TEXT_COLS = [
    "wc_mean", "wc_median", "wc_stdev", "wc_min", "wc_max", "total_count", "lw_count",
    "word_len", "syll_mean", "syll_median", "syll_stdev", "syll_min", "syll_max",
    "MATTR_10", "MATTR_25", "MATTR_50", "HS",
]


def asr_call_expected(path: str) -> tuple[dict, bool]:
    """Timing, confidence, verbosity and lexical-diversity features of one
    call, from the raw CSV with ``ast.literal_eval`` and numpy, and whether
    the call has a wordless segment."""
    with open(path, newline="") as f:
        rows = sorted(csv.DictReader(f), key=lambda r: (int(r["offset"]), int(r["segment_number"])))
    seg, wps, wdur, sil, conf, texts = [], [], [], [], [], []
    for r in rows:
        off, dur = int(r["offset"]), int(r["duration"])
        wt = ast.literal_eval(r["word_timing"])
        s = dur * 1e-7
        seg.append(s)
        wps.append(len(wt) / s if s != 0 else math.nan)
        wdur += [w["Duration"] * 1e-4 for w in wt]
        if wt:
            gaps = [(wt[0]["Offset"] - off) * 1e-4]
            gaps += [(b["Offset"] - (a["Offset"] + a["Duration"])) * 1e-4 for a, b in zip(wt, wt[1:])]
            gaps.append(((off + dur) - (wt[-1]["Offset"] + wt[-1]["Duration"])) * 1e-4)
            sil += [g for g in gaps if g != 0.0]
        if r["confidence"] != "":
            conf.append(float(r["confidence"]))
        texts.append(r["text"])
    out = {}
    for prefix, vals in (("segments", seg), ("wps", wps), ("words", wdur), ("silences", sil)):
        m = _bundle(vals)
        out.update({f"{prefix}_mean": m[0], f"{prefix}_med": m[1], f"{prefix}_std": m[2],
                    f"{prefix}_min": m[3], f"{prefix}_max": m[4]})
    spk = float(sum(seg))
    sil_dur = float(sum(sil)) * 0.001
    out.update(
        spk_duration=spk, segment_count=float(len(seg)),
        short_utt_count=float(sum(s <= 1.0 for s in seg)),
        word_count=float(len(wdur)), sil_count=float(len(sil)), sil_duration=sil_dur,
        spk_sil_ratio=spk / sil_dur if sil_dur else math.nan,
        sps=len(sil) / spk if spk else math.nan, wps=len(wdur) / spk if spk else math.nan,
    )
    c = _bundle(conf)
    out.update(conf_mean=c[0], conf_med=c[1], conf_std=c[2], conf_min=c[3], conf_max=c[4])
    out.update(verbosity_expected(texts))
    words = [w for t in texts for w in t.split(" ")]
    for w in (10, 25, 50):
        out[f"MATTR_{w}"] = _mattr(words, w)
    freq = Counter(words)
    v, v1 = len(freq), sum(1 for k in freq.values() if k == 1)
    out["HS"] = 100.0 * math.log(len(words) / (1.0 - v1 / (v + 1e-5))) if words else math.nan
    return out, "" in texts


def check_asr(out: str, n_calls: int, exp: dict[str, tuple[dict, bool]]) -> list[str]:
    got = pq.read_table(out).to_pandas()
    if len(got) != n_calls or got["conv_id"].nunique() != n_calls:
        return [f"asr: {len(got)} rows / {got['conv_id'].nunique()} calls, expected {n_calls}"]
    got = got.set_index("conv_id")
    errs = []
    for c, (e, wordless) in exp.items():
        bad = _bad_columns(got.loc[c].to_dict(), e)
        known = [k for k in bad if wordless and k in ASR_TEXT_COLS]
        other = [k for k in bad if k not in known]
        if known:
            errs.append(f"{KNOWN_FAULT}asr[{c}]: {', '.join(known)} differ "
                        "(a wordless segment's empty text, read as NULL)")
        if other:
            errs.append(f"asr[{c}]: {', '.join(other)} differ")
    return errs


# -- asr_feature_store: state table ----------------------------------------

def latest_state(table: str) -> tuple[int, dict, pd.DataFrame]:
    """(version, manifest, rows) of the newest committed snapshot, read
    from the table's files with json + pyarrow."""
    import json

    versions = sorted(int(os.path.basename(p)[1:-7]) for p in glob.glob(f"{table}/metadata/v*.commit"))
    v = versions[-1]
    with open(f"{table}/metadata/v{v}.manifest.json") as f:
        man = json.load(f)
    paths = [p["path"].removeprefix("file:") for p in man["files"]]
    rows = pq.ParquetDataset(paths).read().to_pandas() if paths else pd.DataFrame()
    return v, man, rows


def _segment_seconds(csv_files: list[str]) -> pd.DataFrame:
    """(conv_id, v): every segment's duration in seconds, from the raw CSVs."""
    conv, v = [], []
    for path in csv_files:
        with open(path, newline="") as f:
            for r in csv.DictReader(f):
                conv.append(r["audio_file_id"])
                v.append(int(r["duration"]) / DURATION_UNITS)
    return pd.DataFrame({"conv_id": conv, "v": np.array(v, dtype="float64")})


def check_state(table: str, backlog: str, csv_files: list[str], n_batches: int,
                last_batch: int) -> list[str]:
    """The newest snapshot against one DuckDB aggregate over every folded
    row: the backlog and the segments of every committed batch."""
    v, man, state = latest_state(table)
    errs = []
    if v != n_batches:
        errs.append(f"state: {v} committed versions, expected {n_batches}")
    if man.get("stream_batch_id") != last_batch:
        errs.append(f"state: last batch id {man.get('stream_batch_id')}, expected {last_batch}")
    con = _con()
    con.register("segments", _segment_seconds(csv_files))
    exp = con.execute(
        "SELECT conv_id, count(v) AS n, sum(v) AS sum, sum(v * v) AS sumsq, min(v) AS min, "
        "max(v) AS max FROM (SELECT conv_id, v FROM read_parquet($backlog) "
        "UNION ALL SELECT conv_id, v FROM segments) GROUP BY conv_id ORDER BY conv_id",
        {"backlog": backlog},
    ).df()
    con.close()
    got = state.sort_values("conv_id").reset_index(drop=True)
    return errs + _compare("state", got, exp, ["conv_id", "n", "min", "max"], ["sum", "sumsq"], [])
