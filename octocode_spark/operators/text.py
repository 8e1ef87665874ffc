"""Text analysis for training-data pipelines over the `documents` table:
language-ID heuristic, quality scoring, token counting, fingerprinting.

All pure `pyspark.sql.functions` expressions (whole-stage codegen; zero
Python in the hot path). Content-hash fingerprints mirror the reference's
SHA-256 dedup keys (src/embedding/mod.rs:203-234).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword marker sets for the n-gram/stopword heuristic
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "nicht"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "que", "una", "por"],
}


def word_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank strings)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-flavored token estimate: count word-pieces + digits + punctuation
    via a GPT-2-style pre-tokenizer regex (contractions, letter runs, digit
    runs, punctuation runs)."""
    pattern = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"
    return F.size(F.regexp_extract_all(text, F.lit(pattern), 0))


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^.,;:!?'\"()\[\]{}]", "")
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(
        F.length(stripped) / F.length(text)
    )


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    words = F.split(F.lower(F.trim(text)), r"\s+")
    stops = F.filter(words, lambda w: w.isin(_LANG_MARKERS[lang]))
    return F.when(F.size(words) == 0, F.lit(0.0)).otherwise(
        F.size(stops) / F.size(words)
    )


def quality_score(text: Column) -> Column:
    """[0,1] heuristic: rewards healthy length, English stopword presence,
    moderate punctuation — the shape of C4/Gopher-style quality filters."""
    wc = word_count(text).cast("double")
    len_term = F.least(wc / F.lit(100.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(text) * F.lit(5.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(text) * F.lit(4.0))
    return (len_term * F.lit(0.4) + stop_term * F.lit(0.4) + punct_pen * F.lit(0.2))


def detect_lang(text: Column) -> Column:
    """Marker-word vote over the stopword sets; 'und' (undetermined) when no
    marker hits. A deliberately simple n-gram-free heuristic — deterministic
    and SQL-expressible for the oracle."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    scores = {
        lang: F.size(F.filter(words, lambda w: w.isin(markers)))
        for lang, markers in _LANG_MARKERS.items()
    }
    best_score = F.greatest(*scores.values())
    result = F.lit("und")
    # deterministic precedence order on ties: en > de > fr > es
    for lang in ("es", "fr", "de", "en"):
        result = F.when(
            (scores[lang] > 0) & (scores[lang] == best_score), F.lit(lang)
        ).otherwise(result)
    return result


def fingerprint(text: Column) -> Column:
    """Document fingerprint: sha2-256 of NFC-ish canonicalized text
    (lowercase, collapsed whitespace) — the exact-dedup key."""
    canon = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.sha2(canon, 256)


def repetition_stats(text: Column) -> Column:
    """Gopher-style repetition signals as a struct:
    - dup_word_frac: 1 − distinct_words/words (word-level repetitiveness)
    - top_bigram_frac: occurrences of the most frequent word bigram / bigrams
    Both pure array expressions (no UDF); filters like
    ``top_bigram_frac > 0.18`` reproduce the published Gopher cuts."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    n = F.size(words)
    dup_frac = F.when(n > 0, 1.0 - F.size(F.array_distinct(words)) / n).otherwise(F.lit(0.0))
    bigrams = F.transform(
        F.slice(words, 1, F.greatest(n - 1, F.lit(0))),
        lambda w, i: F.concat_ws(" ", w, F.element_at(words, i + 2)),
    )
    nb = F.size(bigrams)
    top = F.array_max(
        F.transform(F.array_distinct(bigrams),
                    lambda b: F.size(F.filter(bigrams, lambda x: x == b)))
    )
    top_frac = F.when(nb > 0, top / nb).otherwise(F.lit(0.0))
    return F.struct(dup_frac.alias("dup_word_frac"), top_frac.alias("top_bigram_frac"))


def stratified_sample_expr(
    source: Column, fractions: dict[str, float], id_col: Column
) -> Column:
    """Deterministic per-source sampling predicate for data-mixing: keep a
    row iff md5-bucket(id) < fraction[source]·10⁶ (unlisted sources drop).
    The SAME rows survive on any engine/cluster size — the md5 trick from
    q39, per stratum. This is the domain-reweighting step of a training-data
    pipeline (e.g. upsample wikipedia, downsample common-crawl)."""
    bucket = F.pmod(
        F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10).cast("long"),
        F.lit(1_000_000),
    )
    pred = F.lit(False)
    for src, frac in sorted(fractions.items()):
        pred = pred | ((source == src) & (bucket < int(frac * 1_000_000)))
    return pred


def temperature_mixing_fractions(
    counts: dict[str, int], alpha: float, target_rows: int
) -> dict[str, float]:
    """Per-source keep fractions for TEMPERATURE-based domain mixing — the
    standard pretraining mixture reweighting (sample source i with
    probability p_i ∝ n_i^α, published across the multilingual/domain-mix
    LM literature): α=1 keeps natural proportions, α→0 approaches uniform
    over sources (up-samples tail domains), α∈(0,1) interpolates. The keep
    fraction is r_i = min(1, target·p_i/n_i); the clamp mass is NOT
    redistributed (no upsampling-with-replacement), so the realized total
    can fall below target_rows when a tail source saturates — deliberate:
    every fraction stays a pure function of (counts, α, target), which is
    what makes the sample reproducible on any engine.

    DETERMINISM: weights are summed over sorted source names so the float
    accumulation order — and therefore every derived threshold — is
    identical across processes/engines regardless of dict/collect order."""
    if not counts:
        return {}
    w = {s: float(c) ** alpha for s, c in counts.items()}
    z = 0.0
    for s in sorted(w):
        z += w[s]
    return {s: min(1.0, target_rows * (w[s] / z) / counts[s]) for s in counts}


def temperature_sample(
    docs,
    alpha: float,
    target_rows: int,
    source_col: str = "source",
    id_col: str = "doc_id",
):
    """Deterministic temperature-mixed sample: one tiny counts aggregate
    (groupBy source — source cardinality is dozens, driver-safe), fractions
    from temperature_mixing_fractions, rows kept by the md5-bucket stratified
    predicate. Same rows survive at any parallelism."""
    from pyspark.sql import functions as F

    counts = {
        r[source_col]: r["cnt"]
        for r in docs.groupBy(source_col).agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    fractions = temperature_mixing_fractions(counts, alpha, target_rows)
    return docs.filter(
        stratified_sample_expr(F.col(source_col), fractions, F.col(id_col))
    )


# PII patterns: deliberately simple, engine-portable regexes (both Spark and
# DuckDB use leftmost, non-overlapping matching for these constructs)
_PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"),
    ("phone", r"\+?[0-9]{1,3}[-. ]?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}"),
]


def redact_pii(text: Column) -> Column:
    """Scrub emails / IPv4s / phone-shaped spans with typed placeholders —
    the pre-training privacy pass. Pure chained regexp_replace (codegen),
    patterns applied in fixed order so the output is deterministic."""
    out = text
    for name, pat in _PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return out


def count_pii(text: Column) -> Column:
    """Number of placeholders redact_pii emits — DEFINITIONALLY: each stage
    counts matches on the SAME placeholder-substituted intermediate that
    redact_pii's chain produces (an earlier ' '-scrubbed variant could
    disagree when a replacement changes adjacency for later patterns, e.g.
    digits abutting a scrubbed span). Placeholders contain no digits or '@',
    so they are inert to every later pattern."""
    total = None
    chain = text
    for name, pat in _PII_PATTERNS:
        n = F.size(F.regexp_extract_all(chain, F.lit(pat), 0))
        total = n if total is None else total + n
        chain = F.regexp_replace(chain, pat, f"<{name.upper()}>")
    return total.cast("long")


def c4_clean(text: Column, min_words: int = 5) -> Column:
    """C4-style line-level cleaning (Raffel et al. 2020, the rules behind
    the C4 corpus): keep only lines that (a) have ≥ ``min_words``
    whitespace words, (b) end in terminal punctuation (. ! ? ")
    and (c) contain neither 'lorem ipsum' nor a '{' (boilerplate/code
    markers); surviving lines are re-joined with single newlines.

    Pure array expressions over split(text, '\\n') — whole-stage codegen,
    engine-portable (the same rules are plain list_filter in SQL)."""
    lines = F.split(text, "\n")

    def keep(line: Column) -> Column:
        t = F.trim(line)
        words = F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))
        terminal = t.rlike('[.!?"]$')
        clean = ~F.lower(t).contains("lorem ipsum") & ~t.contains("{")
        return (words >= min_words) & terminal & clean

    return F.array_join(F.filter(lines, keep), "\n")


def dedup_lines(text: Column) -> Column:
    """Remove REPEATED lines within a document, keeping first occurrences in
    order — the intra-doc boilerplate pass (nav bars, footers, cookie
    banners repeat verbatim inside crawled pages). Pure array expressions:
    keep line i iff its first occurrence index is i (F.filter's 2-arg
    lambda binds (element, index)).

    Bounds: array_position rescans the line array per line — O(L²) string
    compares per document, fine for crawled pages (L ~ 10²-10³) but use a
    mapInPandas set-based pass for pathological million-line rows. Blank
    separator lines collapse like any other duplicate (run after, not
    before, paragraph-aware processing if blank structure matters)."""
    lines = F.split(text, "\n")
    kept = F.filter(lines, lambda l, i: F.array_position(lines, l) == i + 1)
    return F.array_join(kept, "\n")


def expand_by_shared_terms(
    docs: DataFrame,
    seeds: DataFrame,
    min_len: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Symbol expansion (Q8 — the reference expands a result set with
    documents sharing extracted symbols, src/indexer/search.rs symbol
    fan-out): explode each document's identifier-ish terms (lowercase alnum
    runs of ≥ min_len chars, distinct per doc), equi-join expansion docs to
    seed docs on the shared term, score by the number of DISTINCT shared
    terms. Seeds themselves are excluded.

    Shape: explode → two semi/equi joins on the term — never a cross join;
    the term explode is the LSH-band trick applied to symbols (J3).
    ``seeds`` is a DataFrame with the id column (broadcast when small).
    """
    pattern = "[a-z][a-z0-9_]{%d,}" % (min_len - 1)
    terms = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(pattern), 0))
        ).alias("term"),
    )
    seed_ids = seeds.select(F.col(id_col).alias("id")).distinct()
    seed_terms = (
        terms.join(F.broadcast(seed_ids), "id", "left_semi").select("term").distinct()
    )
    return (
        terms.join(F.broadcast(seed_ids), "id", "left_anti")
        .join(seed_terms, "term", "left_semi")
        .groupBy("id")
        .agg(F.count_distinct(F.col("term")).alias("shared_terms"))
    )


def analyze_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        word_count(t).alias("n_words"),
        bpe_ish_token_count(t).alias("n_tokens_bpe"),
        F.round(punct_ratio(t), 4).alias("punct_ratio"),
        F.round(stopword_ratio(t), 4).alias("stopword_ratio"),
        F.round(quality_score(t), 4).alias("quality"),
        detect_lang(t).alias("lang_detected"),
        fingerprint(t).alias("fingerprint"),
    )
