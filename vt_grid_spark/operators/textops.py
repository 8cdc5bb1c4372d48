"""Text analysis for the document/page corpus: quality scoring, language
ID, token counting, fingerprinting.  All pure column expressions (regex +
array ops, JVM-side); oracle-parity via shared regex/md5 semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vt_grid_spark.functions import sqltext as sq

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for",
           "on", "with", "as", "was", "at", "by", "an", "be", "this", "are"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit", "von",
           "den", "im", "für", "auf", "des", "nicht", "eine", "als", "auch",
           "es", "an"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "de", "du",
           "des", "en", "que", "qui", "pour", "pas", "sur", "au", "plus",
           "par"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "en", "de",
           "que", "por", "con", "para", "del", "se", "no", "su", "al",
           "como"],
    "it": ["il", "la", "i", "le", "e", "è", "un", "una", "di", "che", "per",
           "con", "del", "non", "si", "al", "da", "come", "più", "anche"],
}

# Gopher-style document-quality thresholds (Rae et al. 2021 §A1.1, public;
# the C4 gates below are from Raffel et al. 2020 §2.2) — shared verbatim
# with the DuckDB oracle in queries_text.py
GOPHER = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_word_ratio": 0.1,      # '#' and ellipsis symbols per word
    "max_bullet_line_frac": 0.9,
    "max_ellipsis_line_frac": 0.3,
    "min_alpha_word_frac": 0.8,
    "min_stop_hits": 2,
    "max_dup_line_frac": 0.3,
}

TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens_col(text_col: str):
    """BPE-ish tokenization: alpha runs, digit runs, single punctuation.
    Built with Column args (not an expr string) so the backslash class
    survives SQL string-literal unescaping."""
    return F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), F.lit(0))


def ws_tokens_col(text_col: str):
    return F.split(F.trim(F.col(text_col)), "\\s+")


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds n_chars_q, n_tokens, n_ws_tokens, stop_hits, punct_ratio,
    quality_score — length/punct/stopword heuristics, integer-valued
    numerators so ratios round identically everywhere."""
    toks = tokens_col(text_col)
    ws = ws_tokens_col(text_col)
    stop_list = F.expr(  # one parse vs 40 py4j constructor calls
        "array(" + ",".join(sq.quote_str(w) for w in STOPWORDS["en"]) + ")")
    stop_hits = F.size(F.filter(ws, lambda t: F.array_contains(stop_list, t)))
    n_punct = F.size(F.filter(toks, lambda t: t.rlike("^[^A-Za-z0-9]$")))
    n_tokens = F.size(toks)
    return (
        df.withColumn("n_chars_q", F.length(text_col).cast("long"))
        .withColumn("n_tokens", n_tokens.cast("long"))
        .withColumn("n_ws_tokens", F.size(ws).cast("long"))
        .withColumn("stop_hits", stop_hits.cast("long"))
        .withColumn("punct_ratio", F.round(n_punct.cast("double") / n_tokens, 6))
        .withColumn(
            "quality_score",
            F.round(
                F.least(F.lit(1.0), F.col("n_ws_tokens") / F.lit(50.0)) * 0.5
                + F.least(F.lit(1.0), F.col("stop_hits") / F.lit(5.0)) * 0.3
                + (F.lit(1.0) - F.least(F.lit(1.0), F.col("punct_ratio") * 5.0)) * 0.2,
                6,
            ),
        )
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: lowercase stopword-hit counts per language
    (20 words x 5 languages), argmax with a fixed priority order
    (en > de > fr > es > it > unknown) so ties break identically in the
    DuckDB oracle."""
    ws = F.filter(F.transform(ws_tokens_col(text_col), F.lower),
                  lambda t: t != F.lit(""))
    out = df
    for lang, words in STOPWORDS.items():
        lst = F.expr(  # one parse vs 40 py4j constructor calls
            "array(" + ",".join(sq.quote_str(w) for w in words) + ")")
        out = out.withColumn(
            f"hits_{lang}",
            F.size(F.filter(ws, lambda t: F.array_contains(lst, t))).cast("long"))
    langs = list(STOPWORDS)  # priority order == dict order
    pred = F.lit("unknown")
    for lang in reversed(langs):
        higher = [F.col(f"hits_{lang}") >= F.col(f"hits_{other}")
                  for other in langs if langs.index(other) > langs.index(lang)]
        cond = F.col(f"hits_{lang}") > 0
        for h in higher:
            cond = cond & h
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return out.withColumn("lang_pred", pred)


def _count_occurrences(text, needle: str):
    """Occurrences of a literal substring — (len - len(remove-all)) / len(needle),
    identical left-to-right non-overlapping semantics in Spark and DuckDB."""
    removed = F.replace(text, F.lit(needle), F.lit(""))
    return ((F.length(text) - F.length(removed)) / F.lit(len(needle))).cast("long")


def with_gopher_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher/C4-style quality signals, all pure column expressions:

      * mean_word_len, alpha_word_frac — word-shape bounds;
      * symbol_word_ratio — '#' + ellipsis symbols per word;
      * bullet_line_frac / ellipsis_line_frac — boilerplate-list and
        truncation markers per non-empty line;
      * dup_line_frac — repeated-line fraction (template/boilerplate);
      * n_sentences, has_brace, has_lorem, terminal_line_frac — the C4
        heuristics (>=3 sentences, no '{', no 'lorem ipsum');
      * gopher_pass / c4_pass — the conjunctive gates.

    Ratios are rounded to 6dp BEFORE thresholding so the pass flags agree
    bit-for-bit with the DuckDB oracle."""
    text = F.col(text_col)
    g = GOPHER
    ws = F.filter(F.split(F.trim(text), "\\s+"), lambda t: t != F.lit(""))
    n_words = F.size(ws)
    nw = F.greatest(n_words, F.lit(1))
    word_chars = F.aggregate(F.transform(ws, F.length),
                             F.lit(0), lambda acc, v: acc + v)
    mean_word_len = F.round(word_chars.cast("double") / nw, 6)
    alpha_word_frac = F.round(
        F.size(F.filter(ws, lambda t: t.rlike("[A-Za-z]"))).cast("double") / nw, 6)
    n_symbols = (_count_occurrences(text, "#")
                 + _count_occurrences(text, "…")
                 + _count_occurrences(F.replace(text, F.lit("…"), F.lit("")),
                                      "..."))
    symbol_word_ratio = F.round(n_symbols.cast("double") / nw, 6)

    lines = F.filter(F.transform(F.split(text, "\n"), F.trim),
                     lambda t: t != F.lit(""))
    n_lines = F.size(lines)
    nl = F.greatest(n_lines, F.lit(1))
    bullet_line_frac = F.round(F.size(F.filter(
        lines, lambda t: t.startswith("-") | t.startswith("*")
        | t.startswith("•"))).cast("double") / nl, 6)
    ellipsis_line_frac = F.round(F.size(F.filter(
        lines, lambda t: t.endswith("...") | t.endswith("…")
    )).cast("double") / nl, 6)
    dup_line_frac = F.round(
        (n_lines - F.size(F.array_distinct(lines))).cast("double") / nl, 6)

    stop_list = F.expr(  # one parse vs 40 py4j constructor calls
        "array(" + ",".join(sq.quote_str(w) for w in STOPWORDS["en"]) + ")")
    stop_hits = F.size(F.filter(ws, lambda t: F.array_contains(stop_list, t)))

    sentences = F.filter(F.transform(F.split(text, "[.!?]"), F.trim),
                         lambda t: t != F.lit(""))
    n_sentences = F.size(sentences)
    has_brace = text.contains("{")
    has_lorem = F.lower(text).contains("lorem ipsum")
    terminal_line_frac = F.round(F.size(F.filter(
        lines, lambda t: t.rlike('[.!?"]$'))).cast("double") / nl, 6)

    out = (
        df.withColumn("n_words", n_words.cast("long"))
        .withColumn("mean_word_len", mean_word_len)
        .withColumn("alpha_word_frac", alpha_word_frac)
        .withColumn("symbol_word_ratio", symbol_word_ratio)
        .withColumn("bullet_line_frac", bullet_line_frac)
        .withColumn("ellipsis_line_frac", ellipsis_line_frac)
        .withColumn("dup_line_frac", dup_line_frac)
        .withColumn("gopher_stop_hits", stop_hits.cast("long"))
        .withColumn("n_sentences", n_sentences.cast("long"))
        .withColumn("has_brace", has_brace)
        .withColumn("has_lorem", has_lorem)
        .withColumn("terminal_line_frac", terminal_line_frac)
    )
    gopher_pass = (
        (F.col("n_words") >= g["min_words"])
        & (F.col("n_words") <= g["max_words"])
        & (F.col("mean_word_len") >= g["min_mean_word_len"])
        & (F.col("mean_word_len") <= g["max_mean_word_len"])
        & (F.col("symbol_word_ratio") <= g["max_symbol_word_ratio"])
        & (F.col("bullet_line_frac") <= g["max_bullet_line_frac"])
        & (F.col("ellipsis_line_frac") <= g["max_ellipsis_line_frac"])
        & (F.col("alpha_word_frac") >= g["min_alpha_word_frac"])
        & (F.col("gopher_stop_hits") >= g["min_stop_hits"])
        & (F.col("dup_line_frac") <= g["max_dup_line_frac"])
    )
    c4_pass = ((F.col("n_sentences") >= 3)
               & ~F.col("has_brace") & ~F.col("has_lorem"))
    return (out.withColumn("gopher_pass", gopher_pass)
            .withColumn("c4_pass", c4_pass))


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalized document fingerprint: md5 of lowercased,
    whitespace-collapsed text (rolling-hash stand-in, oracle-safe)."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), "\\s+", " "))
    return df.withColumn("fingerprint", F.md5(norm))


# winnowing parameters shared with the DuckDB oracle
WINNOW_BASE = 257
WINNOW_MOD = 2_147_483_647


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5,
                        w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme, Schleimer/
    Wilkerson/Aiken 2003): a polynomial ROLLING hash over character
    k-grams (H_i = sum code[i+j]*B^(k-1-j) mod M), then the minimum hash
    of every w-window of consecutive hashes; the distinct window-mins are
    the document's fingerprint set (guaranteed to share a fingerprint
    with any document containing a common substring of length k+w-1).
    Pure array expressions — JVM, no Python.  Output: (id, fp) rows."""
    pows = [pow(WINNOW_BASE, k - 1 - j, WINNOW_MOD) for j in range(k)]
    codes = (f"transform(sequence(1, length({text_col})),"
             f" i -> ascii(substring({text_col}, i, 1)))")
    terms = " + ".join(
        f"element_at(_c, i + {j}) * {p}L" for j, p in enumerate(pows))
    hashes = (f"transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)),"
              f" i -> ({terms}) % {WINNOW_MOD})")
    mins = (f"transform(sequence(1, greatest(size(_h) - {w - 1}, 1)),"
            f" i -> array_min(slice(_h, i, {w})))")
    return (
        df.select(F.col(id_col), F.col(text_col), F.expr(codes).alias("_c"))
        .withColumn("_h", F.expr(hashes))
        .select(id_col, F.explode(F.array_distinct(F.expr(mins))).alias("fp"))
    )
