"""Every public top-level function and class of the package has a caller
outside tests/, or an entry with a reason on the allow-list below.

A reference is a Name, an Attribute or an import alias in any .py file of
the repository outside tests/ (the package itself, scripts/, perfbench/,
bench.py, __spark_entry__.py). A new helper that only tests reach fails
here instead of growing the library; an allow-list entry whose name gained
a caller, or no longer exists, fails too, so the list only shrinks.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "feature_extraction_spark"

ORACLE = "oracle kernel: the numpy reference tests check a Spark op against"
READER = "reference input reader, driven by tests over fixture files"
SYNTH = "synthetic fixture generator"
NORTH = "north-rule engine piece"
ROW = "COVERAGE.md reference-operator row"
BACKLOG = "no caller outside tests yet: a deletion candidate"

ALLOW = {
    "bigram_perplexity": ORACLE,
    "bm25_scores": ORACLE,
    "conf_stats": ORACLE,
    "gopher_stats": ORACLE,
    "kaldi_segment_times": READER + " (kaldi)",
    "kaldi_timing_stats": READER + " (kaldi)",
    "read_kaldi_confidence": READER + " (kaldi)",
    "read_kaldi_timing_lines": READER + " (kaldi)",
    "read_hypothesis_dirs": READER + " (hypotheses)",
    "read_jsonl": READER + " (jsonl)",
    "quarantine": READER + " (jsonl dead-letter split)",
    "synth_asr_segments": SYNTH,
    "synth_durations": SYNTH,
    "FeaturePipeline": NORTH + " (checkpointed pipeline runner)",
    "validate_no_leakage": NORTH + " (point-in-time leakage check)",
    "salted_repartition": NORTH + " (hot-key salting)",
    "attach_subject": ROW + " S3, J1",
    "read_transcripts": ROW + " S4",
    "remove_nonverbal_tokens": ROW + " P5",
    "remove_stopwords": ROW + " P8",
    "filter_groups_by_min_words": ROW + " P9",
    "with_turn_order": ROW + " W1",
    "sentence_split_expr": ROW + " U7",
    "basic_clean": "README reference map: archived/preprocess_text.py",
    "approx_quantiles": BACKLOG,
    "approx_stat_bundle": BACKLOG,
    "approx_vocab_size": BACKLOG,
    "vocab_sketches": BACKLOG,
    "merge_vocab_sketches": BACKLOG,
    "dedup_by_clusters": BACKLOG,
    "finalize_stat_state": BACKLOG,
    "incremental_stat_update": BACKLOG,
    "hash_sample": BACKLOG,
    "merge_upsert": BACKLOG,
    "rewrite_data_files": BACKLOG,
    "snapshot_versions": BACKLOG,
    "write_bucketed": BACKLOG,
    "pack_sequences": BACKLOG,
    "pq_train": BACKLOG,
    "stage_counts": BACKLOG,
    "target_encode": BACKLOG,
    "tfidf_matrix": BACKLOG,
    "topic_terms": BACKLOG,
    "train_quality_classifier": BACKLOG,
    "weak_labels_from_gopher": BACKLOG,
}


def _public_defs() -> set[str]:
    names = set()
    for f in PKG.rglob("*.py"):
        for node in ast.parse(f.read_text()).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("_"):
                names.add(node.name)
    return names


def _references() -> set[str]:
    refs = set()
    for f in ROOT.rglob("*.py"):
        rel = f.relative_to(ROOT).parts
        if rel[0] == "tests" or any(p.startswith(".") for p in rel):
            continue
        for n in ast.walk(ast.parse(f.read_text())):
            if isinstance(n, ast.Name):
                refs.add(n.id)
            elif isinstance(n, ast.Attribute):
                refs.add(n.attr)
            elif isinstance(n, ast.alias):
                refs.add(n.name.rsplit(".", 1)[-1])
    return refs


def test_public_names_have_a_caller_outside_tests():
    unreached = _public_defs() - _references()
    assert sorted(unreached - ALLOW.keys()) == [], (
        "public names reached only from tests: give them a caller, make "
        "them private, or delete them"
    )
    assert sorted(ALLOW.keys() - unreached) == [], (
        "allow-list entries that now have a caller or no longer exist: "
        "drop them from ALLOW"
    )
