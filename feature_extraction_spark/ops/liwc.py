"""LIWC-style category proportions (reference:
text_features/extract_liwc_2007.py:19-56).

Semantics preserved: tokens are the single-space split of each turn;
bigrams/trigrams are built from consecutive tokens within a turn
(:31-37); a category's value is (unigram + bigram + trigram matches) divided
by the number of UNIGRAM tokens — n-gram matches deliberately weigh the same
as words (:53-55); NaN when the group has no words.

The dictionary is the standard ``.dic`` format: '%'-delimited header of
``id<TAB>category`` lines, then ``pattern<TAB>id...`` entries where patterns
may be wildcard stems (``happ*``) or multi-word phrases ("you know").
The real LIWC 2007 dictionary is proprietary; tests use a synthetic one
(FIXTURES.md §2f).

Spark-first: the dictionary becomes two broadcast-joinable tables —
exact patterns (equi-join) and wildcard stems (joined via prefix explode:
each token emits its prefixes once, bounded by the longest stem) — so
matching is pure joins + one hash aggregation, no UDF, no trie on executors.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_extraction_spark.functions.text import ngrams_expr, tokenize_expr
from feature_extraction_spark.ops.levels import keys_for
from feature_extraction_spark.sources.io import ensure_parallelism


@dataclass
class LiwcDict:
    categories: list[str]  # category names in file order
    exact: list[tuple[str, str]]  # (pattern, category)
    wild: list[tuple[str, str]]  # (stem_without_star, category)

    @property
    def max_stem_len(self) -> int:
        return max((len(s) for s, _ in self.wild), default=0)


def parse_dic(text: str) -> LiwcDict:
    """Parse the .dic format."""
    lines = [ln.rstrip("\n") for ln in text.splitlines()]
    # header between the first two '%' lines
    pct = [i for i, ln in enumerate(lines) if ln.strip() == "%"]
    id2cat: dict[str, str] = {}
    for ln in lines[pct[0] + 1 : pct[1]]:
        if not ln.strip():
            continue
        parts = ln.split("\t")
        id2cat[parts[0].strip()] = parts[1].strip()
    exact, wild = [], []
    for ln in lines[pct[1] + 1 :]:
        if not ln.strip():
            continue
        parts = [p for p in ln.split("\t") if p.strip()]
        pattern, ids = parts[0], parts[1:]
        cats = [id2cat[i] for i in ids if i in id2cat]
        if pattern.endswith("*"):
            wild += [(pattern[:-1], c) for c in cats]
        else:
            exact += [(pattern, c) for c in cats]
    return LiwcDict(list(id2cat.values()), exact, wild)


def liwc_features(
    transcripts: DataFrame,
    dic: LiwcDict,
    level: str = "conv",
    text_col: str = "text",
) -> DataFrame:
    """One row per entity: ``<category>_liwc`` proportion columns."""
    # df.sparkSession, not getActiveSession(): the latter is a JVM
    # thread-local and returns None from worker threads
    spark = transcripts.sparkSession
    keys = keys_for(level)
    words = tokenize_expr(F.col(text_col))
    transcripts = ensure_parallelism(transcripts.select(*keys, text_col))

    # unigrams + within-turn bigrams/trigrams as ONE token stream, shared
    # by both matchers (exact equi-join, wildcard prefix join); no shuffle
    # beyond the final aggregation. The gram construction is a
    # higher-order-function chain (interpreted, outside codegen); the
    # explicit repartition gives both consumers the same exchange, so the
    # chain is evaluated once per shuffle instead of once per branch. All
    # gram orders flow into BOTH matchers: a wildcard stem is a *character*
    # prefix, so 'go*' legally matches the bigram 'go home' (reference
    # regex semantics).
    toks = transcripts.select(
        *keys,
        F.explode(
            F.concat(words, ngrams_expr(words, 2), ngrams_expr(words, 3))
        ).alias("tok"),
    )
    # hash over (keys, tok): balanced even when one entity dominates (the
    # downstream agg is map-side-combinable and the dict joins broadcast,
    # so no consumer needs entity co-location)
    toks = toks.repartition(*keys, "tok")

    # num_words per entity = sum(size(words)) over ALL rows of the source
    # (split keeps empties — reference F1 semantics; a NULL text is one
    # empty token, like '')
    nw = transcripts.groupBy(*keys).agg(
        F.sum(F.size(words)).cast("double").alias("_num_words")
    )

    exact_df = spark.createDataFrame(dic.exact, "tok string, cat string")
    matches = toks.join(F.broadcast(exact_df), on="tok", how="inner").select(
        *keys, "cat"
    )

    if dic.wild:
        wild_df = spark.createDataFrame(dic.wild, "stem string, cat string")
        # Only prefix LENGTHS that actually occur in the stem set are
        # generated (a length-5 prefix can never equal a stem of another
        # length): explode factor drops from max_stem_len to
        # |distinct stem lengths|. The l <= length(tok) guard keeps
        # substring from emitting the same short token at two lengths
        # (which would double-count a match).
        lens = sorted({len(s) for s, _ in dic.wild})
        lens_sql = ",".join(str(l) for l in lens)
        prefixes = toks.select(
            *keys, F.col("tok"),
            F.explode(F.expr(
                f"transform(filter(array({lens_sql}), l -> l <= length(tok)),"
                " l -> substring(tok, 1, l))"
            )).alias("stem"),
        )
        wild_matches = prefixes.join(
            F.broadcast(wild_df), on="stem", how="inner"
        ).select(*keys, "cat")
        matches = matches.unionByName(wild_matches)

    counts = matches.groupBy(*keys).pivot("cat", dic.categories).count()
    out = nw.join(counts, on=keys, how="left")
    for cat in dic.categories:
        out = out.withColumn(
            f"{cat}_liwc",
            F.when(
                F.col("_num_words") == 0, F.lit(float("nan"))
            ).otherwise(F.coalesce(F.col(cat), F.lit(0)).cast("double") / F.col("_num_words")),
        ).drop(cat)
    return out.drop("_num_words")
