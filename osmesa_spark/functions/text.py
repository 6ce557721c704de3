"""Text functions: hashtag extraction, delimited merges, and the
LLM-data-pipeline text-analysis primitives (token counting, quality scoring,
language ID, fingerprinting). All pure Column expressions.

Reference semantics:
  * `hashtags(col)` — regex `#(\\w+)`, lowercased, distinct (vectorpipe;
    model in `notebooks/zeppelin/hashtags.json` "breakOutHashtags"; call site
    `src/apps/.../ChangesetStatsCreator.scala:184-199`).
  * `merge_sets(a, b)` — distinct union of two string arrays (vectorpipe;
    call site `StreamingChangesetMetadataUpdater.scala:110-111`).
The text-analysis ops are the training-data-pipeline extension surface
(BASELINE.json north star), not in the reference.
"""

from __future__ import annotations

from osmesa_spark.functions.litexpr import q
from osmesa_spark.util import column_memo
from pyspark.sql import Column
from pyspark.sql import functions as F

HASHTAG_RE = "#(\\w+)"


@column_memo
def hashtags(col: Column | str) -> Column:
    """Extract distinct lowercased hashtags from free text."""
    col = F.col(col) if isinstance(col, str) else col
    return F.array_distinct(
        F.transform(
            F.regexp_extract_all(F.coalesce(col, F.lit("")), F.lit(HASHTAG_RE), 1),
            F.lower,
        )
    )


def merge_sets(a: Column, b: Column) -> Column:
    """Distinct union of two string-array columns, null-safe."""
    empty = F.array().cast("array<string>")
    return F.array_distinct(
        F.concat(F.coalesce(a, empty), F.coalesce(b, empty))
    )


@column_memo
def changeset_hashtags(tags: Column | str) -> Column:
    """All hashtags of a changeset: regex-extracted from tags['comment']
    UNION the `;`-delimited dedicated tags['hashtags'] list (trimmed,
    lowercased). StreamingChangesetMetadataUpdater.scala:110-111 merges both
    sources; extracting from the comment alone drops hashtags recorded only
    in the dedicated tag."""
    tags = F.col(tags) if isinstance(tags, str) else tags
    dedicated = F.filter(
        F.transform(
            F.split(F.coalesce(tags.getItem("hashtags"), F.lit("")), ";"),
            lambda x: F.lower(F.trim(x)),
        ),
        lambda x: x != "",
    )
    return merge_sets(hashtags(tags.getItem("comment")), dedicated)


# --------------------------------------------------------------------------
# LLM-pipeline text analysis (documents table)
# --------------------------------------------------------------------------

@column_memo
def token_count(text: Column | str) -> Column:
    """Whitespace token count. Kept trivially SQL-expressible so the DuckDB
    oracle can mirror it exactly."""
    text = F.col(text) if isinstance(text, str) else text
    return F.size(F.split(F.trim(text), "\\s+"))


@column_memo
def word_tokens(text: str) -> Column:
    """`word_tokens_sql` over the string column named `text`."""
    return F.expr(word_tokens_sql(q(text)))


# GPT-2-style pretokenizer pattern, restricted to RE2-compatible syntax (no
# lookahead) so the DuckDB oracle can run the identical regex: contraction
# suffixes, space-prefixed letter runs, digit runs, punctuation runs, and
# residual whitespace. Token counts under this pattern approximate BPE
# pretoken counts the way LLM data pipelines use them.
BPE_PRETOKEN_RE = "('(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+|\\s+)"


@column_memo
def bpe_tokens(text: Column | str) -> Column:
    """BPE-ish pretokens (GPT-2 pattern family), whitespace-only matches
    removed. array<string>."""
    text = F.col(text) if isinstance(text, str) else text
    return F.filter(
        F.regexp_extract_all(
            F.coalesce(text, F.lit("")), F.lit(BPE_PRETOKEN_RE), 1
        ),
        lambda t: F.trim(t) != "",
    )


@column_memo
def bpe_token_count(text: Column | str) -> Column:
    """Number of BPE-ish pretokens in `text`."""
    return F.size(bpe_tokens(text))


@column_memo
def quality_score(text: Column | str) -> Column:
    """Heuristic document quality in [0,1]: mean word length sanity +
    alpha ratio + stopword presence. Deterministic, SQL-mirrorable."""
    text = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(text)
    n_tokens = token_count(text)
    alpha = F.length(F.regexp_replace(text, "[^A-Za-z]", ""))
    alpha_ratio = alpha / F.greatest(n_chars, F.lit(1))
    mean_wl = n_chars / F.greatest(n_tokens, F.lit(1))
    wl_ok = (mean_wl >= 3) & (mean_wl <= 12)
    stop_hits = F.size(
        F.regexp_extract_all(
            F.lower(text), F.lit("\\b(the|and|of|to|in|a|is|for)\\b"), 1
        )
    )
    stop_ratio = stop_hits / F.greatest(n_tokens, F.lit(1))
    return F.round(
        alpha_ratio * 0.5
        + wl_ok.cast("double") * 0.25
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * 0.25,
        4,
    )


@column_memo
def doc_fingerprint(text: Column | str) -> Column:
    """Deterministic content fingerprint: md5 of whitespace-normalized,
    lowercased text. Exact-dedup key."""
    text = F.col(text) if isinstance(text, str) else text
    normalized = F.regexp_replace(F.lower(F.trim(text)), "\\s+", " ")
    return F.md5(normalized)


@column_memo
def shingles(text: str, n: int = 3) -> Column:
    """`shingles_sql` over the string column named `text`."""
    return F.expr(shingles_sql(q(text), n))


def word_tokens_sql(text_sql: str) -> str:
    """Lowercased word tokens (runs of letters/digits) — the shingling and
    language-ID normalization basis. Rendered as one SQL string (see
    functions/litexpr.py): one F.expr parse instead of a py4j round-trip
    per operator."""
    return f"regexp_extract_all(lower({text_sql}), '([a-z0-9]+)', 1)"


def shingles_sql(text_sql: str, n: int = 3) -> str:
    """Word n-gram shingles (for MinHash / Jaccard dedup): array<string> of
    space-joined n-grams; empty array if fewer than n tokens.

    The token array is LET-BOUND via a single-element transform so the
    tokenizing regex runs ONCE per row: higher-order-function lambdas
    re-evaluate captured subtrees per element, so a direct
    `slice(<tokens>, i + 1, n)` re-runs regexp_extract_all once per
    shingle POSITION — measured 8x slower on sf0.1 documents (3.5 s vs
    0.45 s for the shingle projection; r11). Values are identical."""
    toks = word_tokens_sql(text_sql)
    return (
        f"element_at(transform(array({toks}), t -> "
        f"CASE WHEN size(t) >= {n} THEN "
        f"transform(sequence(0, size(t) - {n}), "
        f"i -> concat_ws(' ', slice(t, i + 1, {n}))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END), 1)"
    )


def winnow_fingerprints(
    shingle_hashes: Column, window: int = 4
) -> Column:
    """Winnowing document fingerprints (Schleimer et al. '03, MOSS): keep the
    minimum rolling-hash value of every `window` consecutive shingle hashes,
    deduplicated. Robust to local edits — shared text regions produce shared
    fingerprints. Pure Column HOFs: slice + array_min per window position, so
    it stays JVM-side in whole-stage codegen.

    `shingle_hashes`: array<bigint> of per-shingle rolling hashes
    (see operators.dedup.shingle_hashes_sql).

    The hash array is bound ONCE as a lambda variable (via a one-element
    array wrapper): referencing the input expression directly inside the
    per-window lambda would re-evaluate the whole upstream hash pipeline at
    every window position — O(n²) hashing."""

    def body(hs):
        n = F.size(hs)
        full = F.transform(
            F.sequence(F.lit(0), n - window),
            lambda i: F.array_min(F.slice(hs, i + 1, window)),
        )
        short = F.array(F.array_min(hs))
        return F.when(n >= window, F.array_distinct(full)).otherwise(
            F.when(n > 0, short).otherwise(F.array().cast("array<bigint>"))
        )

    return F.element_at(F.transform(F.array(shingle_hashes), body), 1)


# RE2-safe patterns (no backrefs/lookarounds) so the DuckDB oracle runs the
# IDENTICAL regex — emails and international-ish phone numbers
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE_RE = "\\+?[0-9][0-9()\\-. ]{7,}[0-9]"


@column_memo
def scrub_pii(text: Column | str) -> Column:
    """Redact emails then phone-shaped substrings (order matters: an email's
    digits must not be half-eaten by the phone pattern first). Pure
    `regexp_replace` — stays in codegen, and the patterns are RE2-compatible
    so an external engine can replay the scrub byte-for-byte."""
    text = F.col(text) if isinstance(text, str) else text
    scrubbed = F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(scrubbed, PII_PHONE_RE, "<PHONE>")


@column_memo
def gopher_quality_flags(text: Column | str) -> Column:
    """The Gopher document-quality rule bundle (Rae et al. 2021, table A1
    — the filter set MassiveWeb shipped with and most later pretraining
    pipelines reuse) as ONE struct of pure-Column signals + per-rule
    booleans + overall `keep`:

      * word count in [50, 100_000]
      * mean word length in [3, 10]
      * symbol-to-word ratio (#, ellipsis) <= 0.1
      * <= 90% of lines start with a bullet
      * <= 30% of lines end with an ellipsis
      * >= 80% of words contain an alphabetic character
      * >= 2 distinct English stopwords present (the/be/to/of/and/that/
        have/with)

    Everything is split/length/regex Column algebra — whole-stage codegen,
    no UDF — and every signal is emitted so downstream curation can tune
    thresholds without recomputing. Ratios are rounded 4dp for
    cross-engine hash stability."""
    text = F.col(text) if isinstance(text, str) else text
    words = F.split(F.trim(text), r"\s+")
    n_words = F.size(words)
    nw = F.greatest(n_words, F.lit(1))
    sum_wl = F.aggregate(
        words, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
    )
    mean_wl = sum_wl / nw
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ell3 = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / 3
    n_ell1 = F.length(text) - F.length(F.replace(text, F.lit("…"), F.lit("")))
    symbol_frac = (n_hash + n_ell3 + n_ell1) / nw
    lines = F.split(text, r"\n")
    nl = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = (
        F.aggregate(
            lines,
            F.lit(0).cast("bigint"),
            lambda acc, l: acc
            + F.when(
                F.substring(F.ltrim(l), 1, 1).isin("-", "*", "•"), 1
            ).otherwise(0),
        )
        / nl
    )
    ellipsis_frac = (
        F.aggregate(
            lines,
            F.lit(0).cast("bigint"),
            lambda acc, l: acc
            + F.when(
                F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…"), 1
            ).otherwise(0),
        )
        / nl
    )
    alpha_words_frac = (
        F.aggregate(
            words,
            F.lit(0).cast("bigint"),
            lambda acc, w: acc + F.when(w.rlike("[A-Za-z]"), 1).otherwise(0),
        )
        / nw
    )
    n_stop = F.size(
        F.array_distinct(
            F.regexp_extract_all(
                F.lower(text),
                F.lit(r"\b(the|be|to|of|and|that|have|with)\b"),
                1,
            )
        )
    )
    r_words = (n_words >= 50) & (n_words <= 100_000)
    r_wl = (mean_wl >= 3.0) & (mean_wl <= 10.0)
    r_sym = symbol_frac <= 0.1
    r_bullet = bullet_frac <= 0.9
    r_ell = ellipsis_frac <= 0.3
    r_alpha = alpha_words_frac >= 0.8
    r_stop = n_stop >= 2
    return F.struct(
        n_words.alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(symbol_frac, 4).alias("symbol_frac"),
        F.round(bullet_frac, 4).alias("bullet_frac"),
        F.round(ellipsis_frac, 4).alias("ellipsis_frac"),
        F.round(alpha_words_frac, 4).alias("alpha_words_frac"),
        n_stop.alias("n_stopwords"),
        r_words.alias("r_word_count"),
        r_wl.alias("r_word_len"),
        r_sym.alias("r_symbols"),
        r_bullet.alias("r_bullets"),
        r_ell.alias("r_ellipsis"),
        r_alpha.alias("r_alpha_words"),
        r_stop.alias("r_stopwords"),
        (
            r_words & r_wl & r_sym & r_bullet & r_ell & r_alpha & r_stop
        ).alias("keep"),
    )


def _let(col: Column, fn) -> Column:
    """Poor-man's `let`: bind `col` ONCE as a higher-order-function lambda
    variable so its expression tree appears a single time in the plan no
    matter how many times the body references it. Without this, every
    mention of a derived array column COPIES its whole construction tree
    — for the repetition bundle below that blew plan compilation up to
    ~170 s; with let-bindings it is sub-second. Runtime cost: one
    1-element array wrap."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def _ngram_strings(words: Column, n: int) -> Column:
    """Adjacent word n-grams as space-joined strings (empty array when
    the doc has < n words)."""
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda s: F.concat_ws(
                " ", F.slice(words, s + 1, n)
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))


@column_memo
def gopher_repetition_flags(text: str) -> Column:
    """The Gopher REPETITION rule bundle (Rae et al. 2021 table A2 — the
    second half of the MassiveWeb filter set; `gopher_quality_flags` is
    table A1) as ONE struct of row-local signals + per-rule booleans +
    overall `keep`. Everything is array-HOF Column algebra on the doc
    row — zero shuffle, composable like the A1 gate.

    Signals (exact definitions, since implementations vary):
      * dup_line_frac      — lines whose content occurs >= 2 in the doc
                             (every occurrence counted) / total lines
      * dup_line_char_frac — characters of those lines / characters of
                             all lines
      * top{2,3,4}gram_char_frac — (occurrences of the MOST frequent
                             n-gram, ties to the lexicographically
                             smallest) · its non-space char length /
                             total word chars
      * dup{5..10}gram_char_frac — word-chars covered by the UNION of
                             all occurrences of n-grams occurring >= 2 /
                             total word chars (positional cover, so
                             overlapping duplicated grams never double-
                             count — the paper's character-coverage
                             semantics)

    Thresholds are the paper's: 0.30 / 0.20 / 0.20, 0.18, 0.16 /
    0.15, 0.14, 0.13, 0.12, 0.11, 0.10. (The paragraph twin rules are
    the same computation over '\\n\\n' splits; callers with paragraph
    structure pass pre-joined paragraph text through the line rules.)

    Row-local cost is O(G²) per doc in gram count (first-occurrence and
    frequency tests are array scans) — bounded by document length, the
    same regime as shingling, never a join. Fractions rounded 4dp."""
    text_sql = f"coalesce({q(text)}, '')"
    chars = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("bigint"), lambda acc, l: acc + F.length(l)
    )

    def line_part(lines: Column) -> Column:
        line_occ = lambda l: F.size(F.filter(lines, lambda x: x == l))
        return _let(
            F.filter(lines, lambda l: line_occ(l) >= 2),
            lambda dup_lines: F.struct(
                F.size(lines).cast("bigint").alias("n_lines"),
                F.round(
                    F.size(dup_lines) / F.greatest(F.size(lines), F.lit(1)),
                    4,
                ).alias("dlf"),
                F.round(
                    chars(dup_lines)
                    / F.greatest(chars(lines), F.lit(1).cast("bigint")),
                    4,
                ).alias("dlcf"),
            ),
        )

    def top_gram_frac(words, tc, n: int) -> Column:
        def body(grams: Column) -> Column:
            occ = lambda g: F.size(F.filter(grams, lambda x: x == g))
            # mode with deterministic tie-break: among grams at max
            # count, the lexicographically smallest
            return _let(
                F.array_max(F.transform(grams, occ)),
                lambda max_c: F.when(
                    F.size(grams) > 0,
                    max_c
                    * F.length(
                        F.replace(
                            F.array_min(
                                F.filter(grams, lambda g: occ(g) == max_c)
                            ),
                            F.lit(" "),
                            F.lit(""),
                        )
                    )
                    / tc,
                ).otherwise(F.lit(0.0)),
            )

        return _let(_ngram_strings(words, n), body)

    def dup_gram_frac(words, wlen, tc, n: int) -> Column:
        def body(grams: Column) -> Column:
            occ = lambda g: F.size(F.filter(grams, lambda x: x == g))
            starts = F.filter(
                F.sequence(F.lit(1), F.size(grams)),
                lambda s: occ(F.element_at(grams, s)) >= 2,
            )
            return _let(
                starts,
                lambda ss: F.when(
                    F.size(grams) > 0,
                    F.aggregate(
                        F.filter(
                            F.sequence(F.lit(1), F.size(words)),
                            lambda i: F.exists(
                                ss, lambda s: (s <= i) & (i <= s + n - 1)
                            ),
                        ),
                        F.lit(0).cast("bigint"),
                        lambda acc, i: acc + F.element_at(wlen, i),
                    )
                    / tc,
                ).otherwise(F.lit(0.0)),
            )

        return _let(_ngram_strings(words, n), body)

    top_thr = {2: 0.20, 3: 0.18, 4: 0.16}
    dup_thr = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}

    def gram_part(words: Column) -> Column:
        return _let(
            F.transform(words, lambda w: F.length(w)),
            lambda wlen: _let(
                F.greatest(chars(words), F.lit(1).cast("bigint")),
                lambda tc: F.struct(
                    *[
                        F.round(top_gram_frac(words, tc, n), 4).alias(
                            f"t{n}"
                        )
                        for n in (2, 3, 4)
                    ],
                    *[
                        F.round(
                            dup_gram_frac(words, wlen, tc, n), 4
                        ).alias(f"d{n}")
                        for n in range(5, 11)
                    ],
                ),
            ),
        )

    def assemble(lp: Column, gp: Column) -> Column:
        top = {n: gp[f"t{n}"] for n in (2, 3, 4)}
        dup = {n: gp[f"d{n}"] for n in range(5, 11)}
        rules = [
            (lp["dlf"] <= 0.30).alias("r_dup_line"),
            (lp["dlcf"] <= 0.20).alias("r_dup_line_char"),
            *[
                (top[n] <= top_thr[n]).alias(f"r_top{n}gram")
                for n in (2, 3, 4)
            ],
            *[
                (dup[n] <= dup_thr[n]).alias(f"r_dup{n}gram")
                for n in range(5, 11)
            ],
        ]
        keep = rules[0] & rules[1]
        for r in rules[2:]:
            keep = keep & r
        return F.struct(
            lp["n_lines"].alias("n_lines"),
            lp["dlf"].alias("dup_line_frac"),
            lp["dlcf"].alias("dup_line_char_frac"),
            *[top[n].alias(f"top{n}gram_char_frac") for n in (2, 3, 4)],
            *[dup[n].alias(f"dup{n}gram_char_frac") for n in range(5, 11)],
            *rules,
            keep.alias("keep"),
        )

    return _let(
        line_part(F.split(F.expr(text_sql), "\n")),
        lambda lp: _let(
            _let(F.expr(word_tokens_sql(text_sql)), gram_part),
            lambda gp: assemble(lp, gp),
        ),
    )


def blocklist_flags(text: str, terms: list[str]) -> Column:
    """C4-style blocklist gate (Raffel et al. 2020 §2.2 drop any page
    containing a term from the public \"List of Dirty, Naughty ...\"
    list): per-doc blocked-token census over the shared `word_tokens`
    normalization, as ONE struct —

      n_tokens, n_blocked, blocked_frac (4dp), keep (= zero hits, the
      strict C4 policy; the fraction is emitted so softer thresholds can
      be tuned without recomputing).

    The term list folds into the plan as a literal IN — whole-stage
    codegen, no UDF, no join, O(len(terms)) per token. That is the right
    plan for the real-world list sizes (hundreds of terms); for a
    10k+-term lexicon switch to `textops.blocklist_filter_join`, which
    ships the lexicon as a broadcast hash join on the exploded token
    stream instead of a literal fold (property-tested equivalent).

    Null text counts as empty (0 tokens, keep=true) — the repo-wide
    null-survival convention for dedup/curation operators."""
    toks = F.expr(word_tokens_sql(f"coalesce({q(text)}, '')"))
    n_tokens = F.size(toks)
    n_blocked = F.size(F.filter(toks, lambda t: t.isin(*terms)))
    frac = n_blocked / F.greatest(n_tokens, F.lit(1))
    return F.struct(
        n_tokens.cast("bigint").alias("n_tokens"),
        n_blocked.cast("bigint").alias("n_blocked"),
        F.round(frac, 4).alias("blocked_frac"),
        (n_blocked == 0).alias("keep"),
    )
