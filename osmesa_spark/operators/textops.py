"""Text-analysis operators over the `documents` table: language ID,
quality scoring, token counting. All Column-native.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from osmesa_spark.functions.litexpr import q as _qn
from osmesa_spark.functions.text import word_tokens, word_tokens_sql

# tiny per-language stopword marker lists for the n-gram/stopword heuristic
# language detector (deterministic; SQL-mirrorable)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is"],
    "es": ["el", "la", "los", "que"],
    "fr": ["le", "les", "des", "est"],
    "de": ["der", "die", "und", "ist"],
}


def lang_guess(text: str) -> Column:
    """Heuristic language ID: argmax over per-language marker-token hit
    counts; 'und' when nothing matches. Pure CASE/array expressions."""
    toks = word_tokens(text)
    scores = []
    for lang, markers in LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        score = F.size(F.filter(toks, lambda t: F.array_contains(marker_arr, t)))
        scores.append((lang, score))
    best = F.lit("und")
    best_score = F.lit(0)
    # iterate in fixed order; strict > keeps the first language on ties
    for lang, score in scores:
        is_better = score > best_score
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best


def repetition_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals (Rae '21 §A1.1): per document,
    the share of tokens taken by the single most frequent word and the share
    of tokens belonging to any word that repeats. High values flag boilerplate
    / machine-generated text for curation filters.

    Two-stage aggregation keyed by (doc, word) then (doc): TWO exchanges —
    hash partitioning on (doc_id, word) does not satisfy a doc_id-only
    clustering, so the second groupBy re-shuffles. Both shuffles move
    partial-aggregated rows (the word explosion is collapsed map-side before
    the first exchange, per-doc word counts before the second), which is
    cheaper at scale than forcing one shuffle by repartitioning the RAW
    exploded words on doc_id. Stays entirely in codegen; no UDFs.
    """
    words = (
        df.select(id_col, F.explode(F.split(F.lower(text_col), r"\s+")).alias("word"))
        .where(F.col("word") != "")
    )
    wc = words.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("c"))
    return wc.groupBy(id_col).agg(
        F.sum("c").alias("n_words"),
        F.round(F.max("c") / F.sum("c"), 4).alias("top_word_share"),
        F.round(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))) / F.sum("c"),
            4,
        ).alias("dup_word_share"),
    )


def lm_nll_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k: float = 0.5,
) -> DataFrame:
    """CCNet-style language-model quality signal: per-doc average negative
    log-likelihood under a corpus-trained add-k-smoothed BIGRAM model
    (the in-engine stand-in for CCNet's KenLM 5-gram perplexity filter —
    fluent text scores low, gibberish/boilerplate scores high).

    p(b|a) = (C(a,b) + k) / (C(a) + k·V); score = −mean ln p over the
    doc's bigram instances. The model is trained on the scored corpus
    itself — standard for an unsupervised quality signal.

    Scale shape: bigrams are built ROW-LOCALLY (array transform, no
    window); the instance table is localCheckpointed because it feeds both
    the count aggregation and the per-doc score join; C(a) derives from
    the bigram counts (no second corpus pass); V is one distinct-count
    scalar. Joins are keyed on the bigram — SMJ at corpus scale, the count
    table is vocabulary²-bounded with zipfian mass (heavy pairs are single
    counter rows, never holder lists).

    Output: (id, n_bigrams, nll) — docs with ≥2 tokens only."""
    from osmesa_spark.functions.text import _let
    from osmesa_spark.util import ensure_parallelism

    base = ensure_parallelism(df.select(id_col, text_col), id_col)
    toks = word_tokens(text_col)
    # let-bind the token array: referencing `toks` inside the per-position
    # lambda would re-run the tokenizing regex twice per bigram (see
    # functions.text.shingles_sql, same fix)
    bigrams = _let(
        toks,
        lambda t: F.transform(
            F.sequence(F.lit(0), F.size(t) - 2),
            lambda i: F.struct(
                F.element_at(t, i + 1).alias("a"),
                F.element_at(t, i + 2).alias("b"),
            ),
        ),
    )
    db = (
        base.where(F.size(toks) >= 2)
        .select(F.col(id_col).alias("id"), F.explode(bigrams).alias("bg"))
        .select("id", F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
        .localCheckpoint(eager=False)
    )
    # c_ab feeds the V distinct-count job below AND (via c_a/probs) the
    # final scoring plan — without a pin the bigram-instance aggregation
    # runs twice per execution. Lazy checkpoint: the V job materializes
    # the vocabulary²-bounded counter rows once (same pin
    # collocations_pmi already carries).
    c_ab = db.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("double").alias("c_ab")
    ).localCheckpoint(eager=False)
    c_a = c_ab.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    # V = distinct tokens over the bigram-participating corpus, derived
    # from the CHECKPOINTED instance table (map-side combine bounds the
    # shuffle by vocabulary size) — a third full tokenize pass over the
    # raw corpus would cost a scan + regex per doc for the same scalar.
    # (Tokens appearing only in 1-token docs are outside the model's
    # event space either way — they can never be conditioned on or
    # predicted — so this V is the self-consistent one.)
    vocab = (
        c_ab.select(F.explode(F.array("a", "b")).alias("t"))
        .distinct()
        .count()
    )
    probs = c_ab.join(c_a, "a").select(
        "a",
        "b",
        F.log(
            (F.col("c_ab") + F.lit(add_k))
            / (F.col("c_a") + F.lit(add_k * float(vocab)))
        ).alias("lp"),
    )
    return (
        db.join(probs, ["a", "b"])
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(-F.avg("lp"), 6).alias("nll"),
        )
    )


def domain_reweight_nll(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    eta: float = 1.0,
    add_k: float = 0.5,
) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023, one
    multiplicative-weights step): tilt each source's mixture weight by its
    EXCESS language-model loss over the corpus mean —

        weight_i  ∝  share_i · exp(η · (nll_i − nll_corpus))

    where nll comes from the in-engine bigram LM (`lm_nll_scores`, the
    CCNet-style quality signal) and share_i is the source's bigram-mass
    fraction. Hard domains (high excess loss) get upweighted — the
    data-mixture counterpart of the DSIR importance tilt.

    Determinism (oracle-replayable): per-doc nll is 6dp-rounded by
    `lm_nll_scores`; it is re-quantized to 1e-6 BIGINT units so the
    per-source weighted sum Σ q·n_bigrams is an EXACT integer (decimal
    accumulator — no float-order drift; engines agree bit-for-bit through
    the one division that produces mean_nll). The exp/normalize step runs
    over the ≤|sources| tiny frame with raw weights rounded 12dp before
    the final normalization, 6dp after.

    Scale shape: ONE corpus-keyed shuffle beyond the NLL chain (the
    per-source partial agg of counter rows); totals and the normalizer
    ride as two 1-row broadcasts (`mixture_temperature`'s shape). The
    decimal accumulator holds Σ q·n_bigrams exactly up to 1e38 — ~1e24
    bigrams at nll≈20, far past any corpus.

    Output: (source, n_docs, n_bigrams, mean_nll, base_share, weight) —
    docs with <2 tokens have no bigram events and sit outside the model's
    loss, so shares are over bigram mass (exactly DoReMi's token mass)."""
    nll = lm_nll_scores(df, id_col, text_col, add_k=add_k)
    src = df.select(F.col(id_col).alias("id"), F.col(source_col).alias("source"))
    per_doc = nll.join(src, "id").select(
        "source",
        "n_bigrams",
        F.round(F.col("nll") * 1e6).cast("decimal(20,0)").alias("q"),
    )
    # per_src is consumed FOUR times downstream (totals, the share/mean
    # projection, the normalizer agg and the final select); without a
    # checkpoint each consumer replays the whole NLL chain — the plan
    # showed 8 corpus FileScans, i.e. 8 full passes at 100 TB. The frame
    # is ≤|sources| rows, so pinning it is free and cuts upstream to one
    # execution.
    per_src = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_bigrams").cast("bigint").alias("nb"),
        F.sum(F.col("q") * F.col("n_bigrams")).alias("qs"),
    ).localCheckpoint(eager=False)
    tot = per_src.agg(
        F.sum("nb").alias("nbt"), F.sum("qs").alias("qst")
    )
    m = per_src.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs", "nb",
        (F.col("qs").cast("double") / (F.col("nb") * F.lit(1e6))).alias(
            "mean_nll"
        ),
        (F.col("nb").cast("double") / F.col("nbt")).alias("share"),
        (F.col("qst").cast("double") / (F.col("nbt") * F.lit(1e6))).alias(
            "corpus_nll"
        ),
    )
    r = m.select(
        "source", "n_docs", "nb", "mean_nll", "share",
        F.round(
            F.col("share")
            * F.exp(F.lit(eta) * (F.col("mean_nll") - F.col("corpus_nll"))),
            12,
        ).alias("raw"),
    )
    z = r.agg(F.sum("raw").alias("z"))
    return r.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        F.col("nb").alias("n_bigrams"),
        F.round("mean_nll", 6).alias("mean_nll"),
        F.round("share", 6).alias("base_share"),
        F.round(F.col("raw") / F.col("z"), 6).alias("weight"),
    )


def collocations_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Collocation mining: top-k adjacent word pairs by pointwise mutual
    information, PMI = ln(p(a,b) / (p(a)·p(b))) — the corpus-analytics
    readout behind multi-word-expression vocab entries (tokenizer merge
    candidates), boilerplate-phrase discovery, and NER-ish phrase lists.
    `min_count` suppresses the low-frequency PMI explosion (a hapax pair
    always has sky-high PMI).

    Determinism: every probability is a ratio of exact integer counts, so
    both engines derive identical doubles; PMI is rounded 6dp BEFORE the
    top-k ordering with an (a, b) word tie-break.

    Scale shape: bigrams are built row-locally (same transform as
    `lm_nll_scores`); pair counts are vocab²-bounded counter rows with
    zipfian mass (one partial-agg shuffle), unigram counts fold out of
    the same instance table; the two count joins are word-keyed; the
    result is a TakeOrdered(top_k).

    Output: (a, b, c_ab, pmi) — top_k rows."""
    from osmesa_spark.functions.text import _let
    from osmesa_spark.util import ensure_parallelism

    base = ensure_parallelism(df.select(text_col), text_col)
    toks = F.expr(word_tokens_sql(f"coalesce({_qn(text_col)}, '')"))
    # let-bound token array — same regex-in-lambda fix as lm_nll_scores
    bigrams = _let(
        toks,
        lambda t: F.transform(
            F.sequence(F.lit(0), F.size(t) - 2),
            lambda i: F.struct(
                F.element_at(t, i + 1).alias("a"),
                F.element_at(t, i + 2).alias("b"),
            ),
        ),
    )
    db = (
        base.where(F.size(toks) >= 2)
        .select(F.explode(bigrams).alias("bg"))
        .select(F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
        .localCheckpoint(eager=False)
    )
    c_ab = db.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_ab")
    ).localCheckpoint(eager=False)
    # marginals over the SAME event space as the joint: c_a = Σ_b c_ab
    # (left-position occurrences), c_b = Σ_a c_ab (right-position), both
    # normalized by the bigram total — PMI = ln(c_ab·N / (c_a·c_b)), the
    # standard bigram-table formulation (derives from c_ab alone: no
    # second corpus pass)
    c_a = c_ab.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    c_b = c_ab.groupBy("b").agg(F.sum("c_ab").alias("c_b"))
    n_b = c_ab.agg(F.sum("c_ab").alias("nb"))
    scored = (
        c_ab.where(F.col("c_ab") >= min_count)
        .join(c_a, "a")
        .join(c_b, "b")
        .crossJoin(F.broadcast(n_b))
        .select(
            "a",
            "b",
            "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab").cast("double") * F.col("nb"))
                    / (
                        F.col("c_a").cast("double")
                        * F.col("c_b").cast("double")
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "a", "b").limit(top_k)


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    top_n: int = 100,
) -> DataFrame:
    """Zipf-law fit per language: ordinary-least-squares slope/intercept
    of ln(frequency) vs ln(rank) over the top `top_n` words — the
    dataset-card distribution-health metric (natural text sits near
    slope −1; template/boilerplate-heavy or synthetic corpora flatten it,
    so drift in the slope across snapshots flags generation leakage or
    scraper loops).

    Determinism: per-row regression terms (x=ln rank, y=ln count, xy, x²)
    are quantized to BIGINT units so every aggregation is an exact
    integer sum; the closed-form slope divides two exact-sum-derived
    doubles once, then rounds 6dp.

    Scale shape: one (lang, word) partial-agg shuffle (vocab-bounded
    counter rows); the rank window runs per language over vocabulary
    rows, not corpus rows, and only top_n survive into the ≤top_n-row
    regression agg per language.

    Output: (lang, n_terms, slope, intercept)."""

    words = df.select(
        F.col(lang_col).alias("lang"),
        F.explode(
            F.expr(word_tokens_sql(f"coalesce({_qn(text_col)}, '')"))
        ).alias("w"),
    )
    counts = words.groupBy("lang", "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    rw = Window.partitionBy("lang").orderBy(F.col("c").desc(), "w")
    top = counts.withColumn("rank", F.row_number().over(rw)).where(
        F.col("rank") <= top_n
    )
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("c").cast("double"))
    q = lambda col: F.round(col * 1e9).cast("bigint")  # noqa: E731
    terms = top.select(
        "lang",
        q(x).alias("xq"),
        q(y).alias("yq"),
        q(x * y).alias("xyq"),
        q(x * x).alias("xxq"),
    )
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum("xq") / 1e9
    sy = F.sum("yq") / 1e9
    sxy = F.sum("xyq") / 1e9
    sxx = F.sum("xxq") / 1e9
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return terms.groupBy("lang").agg(
        n.cast("bigint").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


_LN2 = 0.6931471805599453


def source_js_divergence(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the unigram
    distributions of every source pair — the domain-similarity matrix
    behind mixture design (which sources are redundant vs complementary),
    transfer heuristics, and per-source-vs-global dedup sharding (the
    probabilistic sibling of `source_dup_matrix`'s exact-duplicate view).

    JSD(P,Q) = ½KL(P‖M) + ½KL(Q‖M), M = ½(P+Q), in nats ∈ [0, ln 2].
    Words present in only one source contribute ½·p·ln2, so the matrix
    needs only the SHARED-word join plus the two shared-mass sums:

        jsd = Σ_shared ½[p_a ln(2p_a/(p_a+p_b)) + p_b ln(2p_b/(p_a+p_b))]
              + ½ ln2 · (2 − Σ_shared p_a − Σ_shared p_b)

    Determinism: p = c/n is one exact-integer division (identical doubles
    cross-engine); per-word terms and probabilities are quantized to
    1e-12 BIGINT units so every aggregation is an exact integer sum (no
    float-order drift); ln's last-ulp engine noise is ±1 quantum,
    absorbed by the final 6dp round.

    Scale shape: one (source, word) partial-agg shuffle (vocabulary-
    bounded counter rows); per-source totals broadcast; the shared-word
    self-join is word-keyed with fan ≤ |sources|² per word and aggregates
    straight down to |sources|(|sources|−1)/2 rows. Nothing is ever
    corpus-sized after the first agg.

    Output: (source_a, source_b, n_shared, jsd), source_a < source_b.
    Pairs sharing ZERO vocabulary produce no row (their jsd is exactly
    ln 2 — the caller treats absence as maximal divergence)."""

    words = df.select(
        F.col(source_col).alias("source"),
        F.explode(
            F.expr(word_tokens_sql(f"coalesce({_qn(text_col)}, '')"))
        ).alias("w"),
    )
    # counts feeds the per-source totals AND the probability projection
    # whose two aliases self-join — four consumers of the corpus explode
    # without a pin. The frame is vocabulary-bounded (|sources|·V counter
    # rows), so checkpointing it bounds the corpus tokenize+agg to one run.
    counts = words.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    ).localCheckpoint(eager=False)
    totals = counts.groupBy("source").agg(F.sum("c").alias("n"))
    p = counts.join(F.broadcast(totals), "source").select(
        "source", "w", (F.col("c") / F.col("n")).alias("p")
    )
    a, b = p.alias("a"), p.alias("b")
    pa, pb = F.col("a.p"), F.col("b.p")
    term = 0.5 * (
        pa * F.log(2.0 * pa / (pa + pb)) + pb * F.log(2.0 * pb / (pa + pb))
    )
    shared = a.join(
        b,
        (F.col("a.w") == F.col("b.w"))
        & (F.col("a.source") < F.col("b.source")),
    ).select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        F.round(term * 1e12).cast("bigint").alias("tq"),
        F.round(pa * 1e12).cast("bigint").alias("paq"),
        F.round(pb * 1e12).cast("bigint").alias("pbq"),
    )
    return shared.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared"),
        F.round(
            F.sum("tq") / 1e12
            + F.lit(0.5 * _LN2)
            * (2.0 - F.sum("paq") / 1e12 - F.sum("pbq") / 1e12),
            6,
        ).alias("jsd"),
    )


def blocklist_filter_join(
    df: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Blocklist census for LARGE lexicons (10k+ terms, where
    `text.blocklist_flags`'s literal IN-fold would bloat the generated
    code): explode the token stream, broadcast-hash-join the lexicon,
    count hits per doc, left-join the verdict back onto the corpus so
    zero-hit docs keep n_blocked = 0.

    Scale shape: the lexicon is broadcast (bounded by the list, never the
    corpus); the only corpus-keyed shuffle is the per-doc hit count, whose
    map-side combine bounds it at one row per (doc, matched term). Output
    schema is identical to `blocklist_flags` unpacked: (id_col, n_tokens,
    n_blocked, blocked_frac, keep)."""

    spark = df.sparkSession
    # explicit schema: an EMPTY lexicon (config-driven pipelines with a
    # blank blocklist file) must behave like blocklist_flags(text, []) —
    # zero hits, keep everything — not crash on schema inference
    lex = F.broadcast(
        spark.createDataFrame(
            [(t,) for t in sorted(set(terms))], "tok string"
        )
    )
    toks = F.expr(word_tokens_sql(f"coalesce({_qn(text_col)}, '')"))
    base = df.select(
        F.col(id_col), F.size(toks).cast("bigint").alias("n_tokens"),
        toks.alias("toks"),
    )
    hits = (
        base.select(id_col, F.explode("toks").alias("tok"))
        .join(lex, "tok")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_blocked"))
    )
    joined = base.drop("toks").join(hits, id_col, "left").select(
        F.col(id_col),
        "n_tokens",
        F.coalesce("n_blocked", F.lit(0).cast("bigint")).alias("n_blocked"),
    )
    return joined.select(
        id_col,
        "n_tokens",
        "n_blocked",
        F.round(
            F.col("n_blocked") / F.greatest("n_tokens", F.lit(1)), 4
        ).alias("blocked_frac"),
        (F.col("n_blocked") == 0).alias("keep"),
    )


def dedup_lines_within_doc(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """INTRA-document exact line dedup: collapse repeated lines within a
    single document, keeping the FIRST occurrence and preserving order —
    the boilerplate-collapse step (nav menus, repeated headers/footers,
    chat-log echo) that RefinedWeb/Dolma apply before CORPUS-level
    paragraph dedup (`dedup.dedup_paragraphs` is the cross-doc sibling;
    this one never leaves the row).

    Scale shape: a pure projection — split / first-occurrence filter /
    rejoin as array HOFs inside whole-stage codegen, ZERO shuffle, so it
    composes with any downstream stage at no plan cost. The first-
    occurrence test is `array_position(lines, line[i]) == i` (O(L²)
    row-locally in line count L, i.e. bounded by document size — the same
    regime as the shingling transforms, and never a join).

    Output: (id_col, n_lines, n_kept, <text_col>_dedup)."""
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    idx = F.sequence(F.lit(1), F.size(lines))
    kept_idx = F.filter(
        idx,
        lambda i: F.array_position(lines, F.element_at(lines, i)) == i,
    )
    kept = F.transform(kept_idx, lambda i: F.element_at(lines, i))
    return df.select(
        F.col(id_col),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(kept).cast("bigint").alias("n_kept"),
        F.array_join(kept, "\n").alias(f"{text_col}_dedup"),
    )


def c4_line_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_words: int = 5,
    min_kept_lines: int = 1,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2, the rule set
    RefinedWeb/Dolma descend from), as pure array HOFs — one row-local
    pass, no explode, no Python:

      keep a line iff it (a) ends in terminal punctuation (. ! ? "),
      (b) has ≥ `min_line_words` words, (c) does not contain a
      curly brace (code/JS heuristic) and (d) is not the cookies/
      javascript boilerplate notice;
      then drop DOCS with fewer than `min_kept_lines` surviving lines.

    Splitting on newline, rules per line, reassembly with '\\n' — the doc
    never leaves the row, so the operator is a projection: it composes
    with any downstream dedup/quality stage without a shuffle of its own.

    Output: (id, n_lines, n_kept, cleaned) for surviving docs."""
    lines = F.split(F.col(text_col), "\n")
    word_count = lambda l: F.size(F.split(F.trim(l), "\\s+"))
    lower = lambda l: F.lower(l)
    keep = lambda l: (
        l.rlike('[.!?"]\\s*$')
        & (word_count(l) >= min_line_words)
        & ~l.contains("{")
        & ~l.contains("}")
        & ~lower(l).contains("javascript")
        & ~lower(l).contains("cookie")
        & ~lower(l).contains("lorem ipsum")
    )
    kept = F.filter(lines, keep)
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.size(lines).cast("bigint").alias("n_lines"),
            F.size(kept).cast("bigint").alias("n_kept"),
            F.array_join(kept, "\n").alias("cleaned"),
        )
        .where(F.col("n_kept") >= min_kept_lines)
    )


def bpe_train_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> DataFrame:
    """Distributed BPE vocabulary training (Sennrich et al. 2016, "Neural
    Machine Translation of Rare Words with Subword Units") — the tokenizer-
    training step of an LLM data pipeline, run at corpus scale: learn the
    `n_merges` highest-count adjacent symbol merges over the corpus word
    distribution. (`doc_bpe_tokens` APPLIES a fixed pretokenizer; this
    TRAINS the merge table a real BPE tokenizer is built from.)

    Scale shape: the corpus is touched ONCE — a word-count groupBy (map-side
    combined) collapses 100 TB of text to its VOCABULARY (distinct words +
    counts), exactly the frame fastBPE-style trainers iterate on. Every
    merge round then runs on the vocab frame only: adjacent-pair counts are
    a row-local transform + explode + partial-agg shuffle, the argmax pair
    comes to the driver as ONE row, and the merge applies as a row-local
    array fold (greedy left-to-right, the reference BPE semantics), guarded
    by a codegen'd array_contains pre-test so the interpreted lambda only
    runs on words that contain both symbols, with the frame
    localCheckpointed per round to truncate lineage. Driver holds n_merges
    rows total. (An Arrow-batched partial-count kernel per round — one job
    instead of the exchange's two AQE stage-jobs — was measured SLOWER at
    sf0.1 (+0.5 s: the Python round-trip costs more than the stage-job it
    removes) and reverted; see OPTIMIZATION_r11.md.)

    Variant notes (documented divergence from the original recipe): symbols
    start as the word's characters with NO end-of-word marker, and words
    come from the engine's standard `word_tokens` normalization — the merge
    LEARNING dynamics are identical.

    Output: (merge_rank, lhs, rhs, pair_count) — one row per learned merge,
    rank 0 first; ties broken lexicographically on (lhs, rhs)."""
    spark = df.sparkSession
    words = (
        df.select(F.explode(word_tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # lazy: round 1's argmax first() materializes the vocab blocks — one
    # corpus word-count job instead of checkpoint-then-argmax
    vocab = words.select(
        "cnt", F.split("w", "").alias("syms")
    ).localCheckpoint(eager=False)

    merges: list[tuple[int, str, str, int]] = []
    for r in range(n_merges):
        pair = F.when(
            F.size("syms") >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size("syms") - 2),
                lambda i: F.struct(
                    F.element_at("syms", i + 1).alias("a"),
                    F.element_at("syms", i + 2).alias("b"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        best = (
            vocab.select("cnt", F.explode(pair).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), "a", "b")
            .first()
        )
        if best is None:
            break
        a, b = best["a"], best["b"]
        merges.append((r, a, b, int(best["c"])))
        if r == n_merges - 1:
            # the last round's fold is consumed by nothing — skip building
            break
        la, lb = F.lit(a), F.lit(b)
        folded = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == la)
                & (x == lb),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(F.element_at(acc, -1), x)),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        # words lacking either symbol cannot contain the adjacent pair and
        # the fold rebuilds them value-identically — gate the interpreted
        # lambda behind codegen'd array_contains tests
        guarded = F.when(
            F.array_contains("syms", a) & F.array_contains("syms", b),
            folded,
        ).otherwise(F.col("syms"))
        # lazy: the NEXT round's count job materializes this round's fold
        vocab = vocab.select("cnt", guarded.alias("syms")).localCheckpoint(
            eager=False
        )
    return spark.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, pair_count long"
    )


def _bpe_apply_merge(syms: Column, a: str, b: str) -> Column:
    """Apply ONE learned merge to a symbol array — the identical greedy
    left-to-right fold the trainer uses (see bpe_train_merges)."""
    la, lb = F.lit(a), F.lit(b)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == la)
            & (x == lb),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), x)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_token_count_trained(
    text: str, merges: list[tuple[str, str]]
) -> Column:
    """Token count of `text` under a TRAINED merge table: each word starts
    as characters, every learned merge applies in rank order (the exact
    inference rule of a BPE tokenizer given its merge list), and the count
    is the summed surviving-symbol count. Pure Column — the merge table is
    literals, so tokenizing 100 TB is a narrow projection; pair with
    `bpe_train_merges` for the full train→segment loop."""
    toks = word_tokens(text)

    def word_tokens_after_merges(w: Column) -> Column:
        syms = F.split(w, "")
        for a, b in merges:
            syms = _bpe_apply_merge(syms, a, b)
        return F.size(syms)

    return F.aggregate(
        F.transform(toks, word_tokens_after_merges),
        F.lit(0),
        lambda acc, n: acc + n,
    )


def hashed_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 256,
    seed: int = 23,
) -> DataFrame:
    """Feature-hashing vectorizer (the 'hashing trick', Weinberger et al.
    2009): every token maps to bucket = portable_hash(token) mod
    `n_features` with a ±1 sign drawn from a further hash bit (the
    unbiasing signed variant), producing a FIXED-dimension sparse vector
    per document with no vocabulary pass and no fitted state — the
    featurization that still works when the vocabulary is unbounded
    (hashtags/URLs/new tokens at 100 TB never need a dictionary rebuild).

    Plan shape: token explode → ONE partial-agg shuffle on (id, bucket)
    summing signs → per-doc assembly keyed on id. Output is the sparse
    (indices, values) pair in ascending-bucket order.

    Returns (id, nnz, indices: array<int>, values: array<bigint>)."""
    from osmesa_spark.operators.dedup import _portable_hash

    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_tokens(text_col)).alias("tok"),
    )
    if n_features & (n_features - 1):
        raise ValueError("n_features must be a power of two (bucket bits "
                         "and the sign bit partition the hash cleanly)")
    h = _portable_hash(F.col("tok"), seed)
    bucket = (h % n_features).cast("int")
    # sign = the hash bit just above the bucket bits, via integer shift —
    # Column `/` is FLOAT division, which loses the low bits of a 60-bit
    # hash and flips parities vs an integer-arithmetic oracle
    sign = F.when(
        F.shiftright(h, n_features.bit_length() - 1) % 2 == 0, 1
    ).otherwise(-1)
    cells = (
        toks.select("id", bucket.alias("bucket"), sign.alias("sgn"))
        .groupBy("id", "bucket")
        .agg(F.sum("sgn").alias("val"))
        .where(F.col("val") != 0)
    )
    return (
        cells.groupBy("id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("bucket", "val"))
            ).alias("cells")
        )
        .select(
            "id",
            F.size("cells").alias("nnz"),
            F.transform("cells", lambda c: c["bucket"]).alias("indices"),
            F.transform("cells", lambda c: c["val"]).alias("values"),
        )
    )

def _weight_lookup(weights: dict[int, float], n_buckets: int) -> Column:
    """Per-row model weight for the bucket column `b`: the trained model is
    a data-independent vector of n_buckets doubles (model width, not a data
    size), so it rides the plan as ONE literal array indexed with
    element_at — pure codegen, no broadcast relation to build and no
    per-round createDataFrame + broadcast stage-job (r10 measurement: each
    z_frame call paid one). This is NOT the interpreted literal-map HOF
    fold that measured ~50× slower — element_at on an array literal
    compiles into the same whole-stage codegen as the arithmetic around
    it. Missing buckets densify to 0.0, exactly the old join's
    coalesce(w, 0.0)."""
    from osmesa_spark.functions.litexpr import darr

    arr = F.expr(darr([weights.get(i, 0.0) for i in range(n_buckets)]))
    return F.element_at(arr, F.col("b") + F.lit(1))


def lr_quality_train(
    df: DataFrame,
    label: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    seed: int = 31,
    rounds: int = 3,
    lr: float = 0.5,
) -> DataFrame:
    """Train a logistic-regression quality classifier IN-ENGINE over
    hashed-unigram count features and score every document with it — the
    shape of the GPT-3 / PaLM "classify against a high-quality reference"
    filter (Brown et al. 2020 appendix A), expressed as UNROLLED full-batch
    gradient descent on DataFrames (the same discipline as the k-means /
    PageRank / BPE trainers: a fixed round count, bounded-output shuffles,
    per-round 9dp step rounding so training replays bit-for-bit in the
    DuckDB oracle).

    Per round r (ONE Spark job, ONE bounded exchange):
      z_d  = b0 + Σ_b n_db·w_b — a ROW-LOCAL fold over the per-doc SORTED
             sparse (bucket, count) list (materialized once; see _lr_fit)
             against the weight vector as ONE literal array. The former
             shape re-joined the corpus-sized instance table with a
             per-round err frame — ~5 AQE stage-jobs and O(corpus) shuffle
             bytes per round (r10 VERDICT item 2); rows now never leave
             their task between the checkpoint scan and the gradient's
             partial agg.
      err  = σ(z_d) − y_d, quantized to 1e-9 integer units ROW-LOCALLY —
             the corpus-wide gradient Σ_d n_db·err_q is then a BIGINT sum:
             order-independent, so engines agree bit-for-bit (a double sum's
             non-associativity error sits AT the 9dp step quantum at corpus
             scale). Overflow: |n·err_q| ≤ doc_tokens·1e9 per doc (|err|
             ≤ 1), so a bucket's BIGINT sum holds ~9.2e6 docs of 1000
             tokens each even in the worst all-tokens-one-bucket case —
             switch to DECIMAL aggs beyond that bucket cardinality.
      g_b comes from ONE explode of (pairs + a bias sentinel (b=-1, n=1))
      → partial agg → one ≤(n_buckets+1)-key exchange; the driver folds
      the ONE bounded collect into the next weight vector exactly as the
      k-means trainer folds centroids.

    The (id, y, n_tokens, pairs) doc-feature frame is localCheckpointed
    ONCE and reused by every round and the final scoring pass, which is now
    join-free too (n_tokens and z are both row-local over the checkpoint).
    Weights ride as LITERAL arrays inside the fold — no per-round broadcast
    relation or createDataFrame.

    Output: (id, n_tokens, p, pred) — p = σ(z) under the trained weights
    rounded 6dp, pred = p ≥ 0.5."""
    w, b0, feats, z_col = _lr_fit(
        df, label, id_col, text_col, n_buckets, seed, rounds, lr
    )
    p = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-z_col(w, b0))), 6
    )
    # n_tokens and z are both row-local over the checkpointed doc-feature
    # frame — the former scoring pass paid a weight join plus an ntok join
    return feats.select(
        "id",
        "n_tokens",
        p.alias("p"),
        (p >= 0.5).alias("pred"),
    )


def lr_train_weights(
    df: DataFrame,
    label: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    seed: int = 31,
    rounds: int = 3,
    lr: float = 0.5,
) -> tuple[dict[int, float], float]:
    """Train and return the FROZEN model alone — (weights, bias), the
    artifact `lr_score` serves at ingest time (the LR mirror of
    `dsir_ratio`/`dsir_score`). Same training as `lr_quality_train`."""
    w, b0, _feats, _z = _lr_fit(
        df, label, id_col, text_col, n_buckets, seed, rounds, lr
    )
    return w, b0


def _lr_fit(
    df: DataFrame,
    label: Column,
    id_col: str,
    text_col: str,
    n_buckets: int,
    seed: int,
    rounds: int,
    lr: float,
):
    """Shared GD loop: returns (weights, bias, feats, z_col) — `feats` is
    the checkpointed per-doc feature frame (id, y, n_tokens, pairs) with
    `pairs` the doc's SORTED sparse (bucket, count) list, and `z_col(w, b0)`
    builds the row-local margin column over it, so the caller's scoring
    pass reuses the training materialization and needs no joins.

    Round shape (vs the r10 instance-join form, which shuffled the
    corpus-sized instance table against a per-round err frame — ~5 AQE
    stage-jobs and O(corpus) shuffle bytes per round): each round is now
    feats-scan → row-local z/err → explode(pairs + a bias sentinel
    (b=-1, n=1)) → one ≤(n_buckets+1)-key exchange of partial sums →
    collect. Per-round shuffle bytes drop to O(n_buckets·partitions).
    Same integer-exact arithmetic — c = n·err_q stays a BIGINT product
    summed per bucket, the bias step is the sentinel's n=1 case — only the
    double z accumulation ORDER changes (ascending bucket instead of
    hash-agg arrival), which the 1e-9 err quantization already absorbs by
    design; oracle hashes verified identical at sf0.01 and sf0.1."""
    from osmesa_spark.functions.litexpr import darr, dlit
    from osmesa_spark.operators.dedup import _portable_hash
    from osmesa_spark.util import ensure_parallelism

    base = ensure_parallelism(
        df.select(
            F.col(id_col).alias("id"),
            # null labels count as negative — a null would poison the
            # gradient sums
            F.when(label, F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
            F.col(text_col).alias("__t"),
        ),
        "id",
    )
    # explode_outer keeps empty docs (b = null, n = 0): they carry no
    # gradient weight but must contribute to the bias step and appear in
    # the scoring output, exactly like the former docs-frame left join
    perb = (
        base.select(
            "id",
            "y",
            F.explode_outer(
                F.transform(
                    word_tokens("__t"),
                    lambda t: (_portable_hash(t, seed) % n_buckets).cast(
                        "int"
                    ),
                )
            ).alias("b"),
        )
        .groupBy("id", "y", "b")
        .agg(
            F.sum(
                F.when(F.col("b").isNotNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("n")
        )
    )
    # sort_array pins the per-doc bucket order, so the double z sum below
    # is deterministic (ascending bucket) run to run
    feats = (
        perb.groupBy("id", "y")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.when(F.col("b").isNotNull(), F.struct("b", "n"))
                )
            ).alias("pairs"),
            F.sum("n").alias("n_tokens"),
        )
        .localCheckpoint(eager=False)
    )
    n_docs = feats.count()
    if n_docs == 0:
        raise ValueError("lr_quality_train: input frame has no rows")

    def z_col(w: dict[int, float], b0: float) -> Column:
        """Row-local margin z = Σ n·w_b over the doc's sparse pairs + b0,
        with the weights as ONE literal array (single expr parse)."""
        if not w:
            return F.lit(b0)
        warr = darr([w.get(i, 0.0) for i in range(n_buckets)])
        return F.expr(
            f"(aggregate(`pairs`, 0.0D, (acc, p) -> "
            f"acc + p.n * element_at({warr}, p.b + 1)) + {dlit(b0)})"
        )

    # the bias gradient rides the same explode as the buckets: one
    # synthetic (b=-1, n=1) pair per doc makes c = n·err_q = err_q
    sentinel = F.array(
        F.struct(
            F.lit(-1).alias("b"), F.lit(1).cast("bigint").alias("n")
        )
    )
    w: dict[int, float] = {}
    b0 = 0.0
    inv = F.lit(-lr)
    nd = F.lit(float(n_docs))
    for _ in range(rounds):
        err_q = F.round(
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-z_col(w, b0))) - F.col("y"))
            * F.lit(1e9),
            0,
        ).cast("bigint")
        # one job, one bounded exchange, no join: err_q is row-local over
        # the checkpoint blocks and every gradient row (bias included)
        # comes off one explode
        steps = (
            feats.select(
                err_q.alias("eq"),
                F.explode(F.concat("pairs", sentinel)).alias("p"),
            )
            .select(
                F.col("p.b").alias("b"),
                (F.col("p.n") * F.col("eq")).alias("c"),
            )
            .groupBy("b")
            .agg(
                F.round(
                    inv * (F.sum("c").cast("double") / F.lit(1e9)) / nd, 9
                ).alias("step")
            )
            .collect()
        )
        # fold: both summands are 9dp-quantized, so the sum is exact in
        # double and the final round is a no-op guard shared with the oracle
        for r in steps:
            if r["b"] == -1:
                b0 = round(b0 + r["step"], 9)
            else:
                w[r["b"]] = round(w.get(r["b"], 0.0) + r["step"], 9)

    return w, b0, feats, z_col


def lr_score(
    df: DataFrame,
    weights: dict[int, float],
    bias: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    seed: int = 31,
) -> DataFrame:
    """Score documents under a FROZEN trained LR model — the serving half
    of `lr_quality_train` (pair it with `lr_train_weights`), mirroring the
    `dsir_ratio`/`dsir_score` split: train the filter once on a reference
    corpus, then gate arriving batches against the fixed model. One
    (doc, bucket) partial-count shuffle + a literal-array weight lookup +
    an id-keyed agg per batch; stream-composable inside foreachBatch.

    Output: (id, n_tokens, p, pred)."""
    from osmesa_spark.operators.dedup import _portable_hash
    from osmesa_spark.util import ensure_parallelism

    base = ensure_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")),
        "id",
    )
    # explode_outer keeps empty docs in the aggregate (b = null, n = 0), so
    # no join back to the id frame is needed to cover them — one fewer
    # exchange per scored batch than the former left-join shape
    inst = (
        base.select(
            "id",
            F.explode_outer(
                F.transform(
                    word_tokens("__t"),
                    lambda t: (_portable_hash(t, seed) % n_buckets).cast(
                        "int"
                    ),
                )
            ).alias("b"),
        )
        .groupBy("id", "b")
        .agg(
            F.sum(
                F.when(F.col("b").isNotNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("n")
        )
    )
    z_in = F.coalesce(F.col("zz"), F.lit(0.0)) + F.lit(bias)
    if weights:
        zdf = (
            inst.groupBy("id")
            .agg(
                F.sum(
                    F.when(
                        F.col("b").isNotNull(),
                        F.col("n") * _weight_lookup(weights, n_buckets),
                    ).otherwise(F.lit(0.0))
                ).alias("zz"),
                F.sum("n").alias("n_tokens"),
            )
        )
    else:
        zdf = inst.groupBy("id").agg(
            F.lit(0.0).alias("zz"), F.sum("n").alias("n_tokens")
        )
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z_in)), 6)
    return zdf.select(
        "id",
        F.col("n_tokens").alias("n_tokens"),
        p.alias("p"),
        (p >= 0.5).alias("pred"),
    )
