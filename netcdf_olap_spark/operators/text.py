"""Text-analysis operators (SURVEY.md §2.11 north-star set).

All hot-path expressions are native ``pyspark.sql.functions`` /
higher-order lambdas — JVM-side, whole-stage-codegen'd, no Python
boundary. The reference has no text surface; this is the
training-data-pipeline extension the rebuild adds (BASELINE.json
north star).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny deterministic stopword sets for the language-ID heuristic.
LANG_STOPWORDS = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ein"),
    "fr": ("le", "la", "et", "un", "une"),
    "es": ("el", "la", "los", "y", "un"),
}

EN_STOPWORDS = LANG_STOPWORDS["en"]


def tokens(col: Column | str = "text") -> Column:
    """Whitespace tokenization: trim then split on runs of
    whitespace. Empty string → single empty token is avoided by the
    trim + filter."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != F.lit(""))


def shingles_from_tokens(t: Column, n: int = 3) -> Column:
    """Word n-gram shingles from an already-materialized token array
    column: shingle i = t[i..i+n-1] joined by spaces. ``t`` MUST be a
    plain column reference (not the ``tokens()`` expression tree):
    referenced inside the ``transform`` lambda, an inlined
    split+filter would re-tokenize the whole document once per
    shingle position — O(tokens²) per doc."""
    sh = F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(t, i, n)),
    )
    return F.when(F.size(t) >= n, sh).otherwise(F.array().cast("array<string>"))


def shingles(col: Column | str = "text", n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> — built natively with
    transform+sequence+slice (no UDF). Docs shorter than n tokens →
    empty array. For hot paths prefer materializing ``tokens()`` in
    its own projection and calling ``shingles_from_tokens`` (see
    dedup._shingle_index)."""
    return shingles_from_tokens(tokens(col), n)


# BPE-style pre-tokenizer classes: letter runs, digit runs, single
# non-alnum marks — the split shape byte-pair vocabularies train over.
# Kept to portable character classes so Java (Spark) and RE2-flavored
# (DuckDB) engines agree byte-for-byte.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_tokens(col: Column | str = "text") -> Column:
    """BPE-ish tokenization as an array<string> (F6: regex surface)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)


def stopword_count(col: Column | str = "text", stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    return F.size(F.filter(tokens(col), lambda t: t.isin(*stopwords)))


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring: char length, token count, mean token length,
    stopword ratio, punctuation count. All single-op or integer
    exprs → engine-deterministic."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    n_stop = stopword_count(text_col)
    return df.select(
        "doc_id",
        F.length(text_col).alias("len_chars"),
        n_tok.alias("n_tokens"),
        (
            F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double") / n_tok
        ).alias("mean_token_len"),
        n_stop.alias("n_stopwords"),
        (n_stop.cast("double") / n_tok).alias("stopword_ratio"),
        F.length(F.regexp_replace(F.col(text_col), r"[^.,!?;:]", "")).alias("n_punct"),
    )


def lang_id_expr(text_col: str = "text") -> Column:
    """n-gram/stopword heuristic language ID: pick the language whose
    stopword set hits the most tokens; ties and zero-hits → 'und'.
    Deterministic (greatest-count with fixed language order)."""
    counts = {lang: stopword_count(text_col, sw) for lang, sw in LANG_STOPWORDS.items()}
    best = F.lit("und")
    best_n = F.lit(0)
    # fixed iteration order; strictly-greater keeps first-wins ties
    for lang in ("en", "de", "fr", "es"):
        c = counts[lang]
        take = c > best_n
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_n = F.when(take, c).otherwise(best_n)
    return best


def repetition_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition signals (the quality
    filters of Rae et al. 2021 §A1.1 / the Dolma and FineWeb
    pipelines): duplicate-token fraction, the occurrence fraction of
    the most frequent token 2-gram, and duplicate-sentence fraction,
    plus the composite ``is_repetitive`` flag (dup_sent_frac > 0.30 or
    top_bigram_frac > 0.18 — Gopher-INSPIRED thresholds: Rae et al.
    A1.1 uses 0.20 for the top 2-gram and measures CHARACTER fraction,
    where this operator measures occurrence fraction with 0.18, the
    paper's 3-gram figure; deterministic and parity-checked either
    way, just not a verbatim transcription of the published table).

    100 TB shape: everything is higher-order functions over per-row
    arrays — a PURE MAP, no shuffle, no Python. The mode multiplicity
    of the bigram multiset is the maximum run length over the SORTED
    bigram array (array_sort groups equal elements adjacently), folded
    with one ``aggregate`` — not an explode + groupBy, which would
    shuffle the entire token stream on (doc, bigram) keys.

    Degenerate docs (no bigrams / no tokens / no sentences) yield NULL
    fractions and ``is_repetitive`` false — never errors.

    Determinism: counts are integers; every fraction is one IEEE
    division of two exact integers — bit-identical in any engine and
    under any partitioning (the DuckDB twin is DOC_REPETITION_SQL)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokens(text_col)
    d = df.select(
        "doc_id",
        toks.alias("t"),
        # sentence segmentation: same portable regex as doc_sentence_stats
        F.filter(
            F.transform(
                F.regexp_extract_all(c, F.lit(r"[^.!?]+[.!?]?"), F.lit(0)),
                lambda s: F.trim(s),
            ),
            lambda s: s != F.lit(""),
        ).alias("ss"),
    )
    n_tok = F.size("t")
    n_uniq = F.size(F.array_distinct("t"))
    bigrams = F.transform(
        F.sequence(F.lit(1), n_tok - 1),
        lambda i: F.concat_ws(" ", F.element_at("t", i), F.element_at("t", i + 1)),
    )
    d = d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_uniq.alias("n_uniq_tokens"),
        F.when(n_tok > 0, (n_tok - n_uniq).cast("double") / n_tok).alias("dup_token_frac"),
        F.when(n_tok >= 2, F.array_sort(bigrams)).otherwise(F.array().cast("array<string>")).alias("b"),
        F.size("ss").alias("n_sents"),
        F.size(F.array_distinct("ss")).alias("n_uniq_sents"),
        F.when(
            F.size("ss") > 0,
            (F.size("ss") - F.size(F.array_distinct("ss"))).cast("double") / F.size("ss"),
        ).alias("dup_sent_frac"),
    )
    # run-length max over the sorted bigram array = mode multiplicity
    zero = F.lit(0).cast("long")
    run_state = F.aggregate(
        F.col("b"),
        F.struct(F.lit("").alias("prev"), zero.alias("run"), zero.alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    n_big = F.size("b")
    d = d.select(
        "doc_id",
        "n_tokens",
        "n_uniq_tokens",
        "dup_token_frac",
        n_big.cast("long").alias("n_bigrams"),
        run_state.alias("top_bigram_count"),
        F.when(n_big > 0, run_state.cast("double") / n_big).alias("top_bigram_frac"),
        "n_sents",
        "n_uniq_sents",
        "dup_sent_frac",
    )
    return d.select(
        "*",
        (
            F.coalesce(F.col("dup_sent_frac") > 0.30, F.lit(False))
            | F.coalesce(F.col("top_bigram_frac") > 0.18, F.lit(False))
        ).alias("is_repetitive"),
    )


def fingerprint(col: Column | str = "text") -> Column:
    """Document fingerprint: md5 of the casefolded,
    whitespace-collapsed text — the exact-dedup key."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def content_cutpoints(t: Column, k: int = 3, modulus: int = 8) -> Column:
    """Content-defined chunk boundaries (Rabin-style CDC over the
    token stream): position ``p`` (1-based) ends a chunk iff the
    md5-52 hash of the ``k``-token window ending at ``p`` is ``0 mod
    modulus``.  Returned as the cutpoint array ``[0, p1, p2, …, n]``
    — expected chunk length ≈ ``modulus`` tokens.

    Unlike fixed-stride chunking (``doc_chunking``), boundaries move
    WITH the content: inserting a prefix into a document shifts every
    token offset but re-synchronizes the cutpoints after at most one
    window, so chunks of shared content hash identically across the
    two documents — the property that makes chunk-level dedup robust
    to shifted/embedded duplicates (the case fixed-stride span keys
    miss by construction).

    Engine-portable (md5-hex 52-bit family, registry rule) and fully
    native: one ``filter`` over a ``sequence`` — no UDF, no shuffle.
    ``t`` MUST be a materialized token-array column reference (the
    same O(tokens²) caveat as ``shingles_from_tokens``).
    """
    n = F.size(t)

    def _window_hash(p: Column) -> Column:
        win = F.concat_ws(" ", F.slice(t, p - (k - 1), k))
        return F.conv(F.substring(F.md5(win), 1, 13), 16, 10).cast("long")

    inner = F.filter(
        F.sequence(F.lit(1), n),
        lambda p: (p >= F.lit(k)) & (p < n) & (_window_hash(p) % modulus == 0),
    )
    return F.concat(F.array(F.lit(0)), inner, F.array(n))


def chunks_from_cuts(t: Column, cuts: Column) -> Column:
    """Materialize chunk texts from a cutpoint array: chunk ``i`` =
    tokens ``cuts[i]+1 .. cuts[i+1]`` joined by single spaces.  Both
    ``t`` and ``cuts`` must be plain column references (each is
    referenced per chunk inside the lambda)."""
    return F.transform(
        F.sequence(F.lit(1), F.size(cuts) - 1),
        lambda i: F.concat_ws(
            " ",
            F.slice(
                t,
                F.element_at(cuts, i) + 1,
                F.element_at(cuts, i + 1) - F.element_at(cuts, i),
            ),
        ),
    )
