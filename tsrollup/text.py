"""Text-analysis operators for training-data pipelines, all JVM-side
(built-in pyspark.sql.functions only — no Python in the hot path).

Cross-engine determinism notes (each op has a DuckDB oracle in
__spark_entry__.py): word split is on a single literal space with empty
tokens kept (Spark ``split`` limit=-1 == DuckDB ``string_split``); hashes are
md5 hex (identical in both engines); ratios are single IEEE double divisions
of exact integer counts, so bits match across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .io import pin

# tiny stopword lexicons for the n-gram-free language-ID heuristic
LANG_STOPWORDS = {
    "en": ("the", "of", "and", "to", "in", "is", "that", "it", "was", "for"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "den", "von"),
    "fr": ("le", "la", "et", "les", "des", "est", "pas", "une", "que", "dans"),
    "es": ("el", "la", "que", "los", "una", "por", "con", "para", "del", "las"),
}


def words(text_col: str = "text") -> Column:
    """Whitespace word split (single literal space, empties kept)."""
    return F.split(F.col(text_col), " ")


def tokenize_words(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The documents→sequences bridge: token = word length (deterministic,
    engine-agnostic stand-in for a BPE id). Position index = timestamp."""
    return df.withColumn(
        "tokens", F.transform(words(text_col), lambda w: F.length(w)))


# BPE-ish tokenizer pattern: letter runs | digit runs | single punctuation —
# the GPT-2-style pre-tokenization shape, restricted to constructs whose
# semantics are identical in Java regex (Spark) and RE2 (DuckDB).
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _token_stat_cols(text_col: str) -> list[Column]:
    w = words(text_col)
    return [
        F.size(w).alias("n_words"),
        F.regexp_count(F.col(text_col), F.lit(BPE_PATTERN)).cast("int")
         .alias("bpe_tokens"),
        F.length(text_col).alias("n_chars_meas"),
        (F.length(text_col) / F.lit(4.0)).alias("bpe_est"),
        F.array_max(F.transform(w, lambda x: F.length(x))).alias("max_word_len"),
    ]


def _quality_cols(text_col: str) -> list[Column]:
    w = words(text_col)
    en = F.array(*[F.lit(s) for s in LANG_STOPWORDS["en"]])
    n_words = F.size(w)
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(en, x)))
    mean_wl = F.length(text_col).cast("double") / n_words.cast("double")
    stop_ratio = n_stop.cast("double") / n_words.cast("double")
    return [
        n_words.alias("n_words"),
        n_stop.alias("n_stopwords"),
        stop_ratio.alias("stop_ratio"),
        mean_wl.alias("mean_word_len"),
        (stop_ratio * F.lit(2.0) + F.lit(1.0) / mean_wl).alias("quality"),
    ]


def _lang_cols(text_col: str) -> list[Column]:
    w = words(text_col)
    hits = []
    for lang in sorted(LANG_STOPWORDS):  # deterministic order
        lex = F.array(*[F.lit(s) for s in LANG_STOPWORDS[lang]])
        hits.append(F.struct(
            F.size(F.filter(w, lambda x: F.array_contains(lex, x))).alias("hits"),
            F.lit(lang).alias("lang"),
        ))
    # greatest = max hits, then max lang code — invert lang for tie-break-by-
    # first: use (hits, negated-lang) ordering via greatest on (hits, lang)
    best = F.greatest(*hits)
    return [best["lang"].alias("pred_lang"), best["hits"].alias("stop_hits")]


def _fingerprint_cols(text_col: str) -> list[Column]:
    return [
        F.md5(F.col(text_col)).alias("md5"),
        F.conv(F.substring(F.md5(F.col(text_col)), 1, 15), 16, 10)
         .cast("long").alias("fp60"),
    ]


def _word_ngrams(w: Column, n: int) -> Column:
    """Word n-grams as space-joined strings (array<string>) over a word
    ARRAY column, empty array when the doc has fewer than ``n`` words.
    ``w`` must be a STAGED attribute (a split column materialized in its
    own projection), never an inline ``split(text)``: higher-order
    functions are CodegenFallback (interpreted, no CSE), so an inline
    split is re-evaluated per gram element per reference — O(L²) per doc
    (measured 2.6 s → 1.5 s on the heavy_ngrams row at sf1.0 from staging
    alone). CollapseProject keeps the staging projection intact because
    the gram transform references ``w`` more than once. The sequence()
    bound is guarded because Spark's sequence(1, 0) DESCENDS ([1, 0])
    rather than returning empty."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(w) - F.lit(n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + F.lit(j)) for j in range(n)]))
    return F.when(F.size(w) >= n, grams) \
        .otherwise(F.array().cast("array<string>"))


def repetition_stats(df: DataFrame, text_col: str = "text",
                     ns: tuple[int, ...] = (2, 3)) -> DataFrame:
    """Gopher-style intra-document repetition filters (Rae et al. 2021 §A1.1,
    the standard LLM-corpus quality rules): per doc and per n-gram order,
    the duplicate-n-gram fraction (computed (total − distinct)/total — the
    subtraction happens on exact integers BEFORE the one double division,
    so engines agree bitwise) and the top-n-gram fraction (max
    multiplicity / total), NULL when the doc is shorter than ``n`` words.

    Scale shape: ZERO shuffle — every statistic is a per-doc array
    computation, so the 100 TB pass stays embarrassingly parallel with no
    corpus-wide n-gram exchange. O(L log L) per doc, all JVM-side. Counts
    are exact integers and each fraction is one IEEE double division, so a
    SQL engine aggregating exploded n-grams (the DuckDB oracle's shape)
    reproduces the values bit-for-bit.

    Per-doc compute (higher-order functions are CodegenFallback —
    interpreted, so duplicated subtrees cost real time): the SORTED gram
    array is staged once per ``n`` in its own projection, and ONE fold
    over it yields BOTH the distinct count (positions where x ≠ prev) and
    the max run — replacing the earlier three independent gram builds
    (size / array_distinct / sort+fold), which re-evaluated the gram
    transform per output column. Measured 7.5 s → 2.7 s at sf1.0,
    bit-identical output. The empty-string fold sentinel stays safe: a
    first element equal to "" would count run 1 / distinct 1, and for
    n ≥ 2 every gram contains the join space anyway."""
    ns = tuple(ns)
    staged = (df.select("doc_id", words(text_col).alias("_w"))
              .select("doc_id", *[
                  F.sort_array(_word_ngrams(F.col("_w"), n)).alias(f"_s{n}")
                  for n in ns]))

    def _fold(sorted_col: Column) -> Column:
        init = F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                        F.lit(0).alias("best"), F.lit(0).alias("nd"))

        def step(acc, x):
            run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
            return F.struct(
                x.alias("prev"), run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
                (acc["nd"] + F.when(x == acc["prev"], F.lit(0))
                 .otherwise(F.lit(1))).alias("nd"))

        return F.aggregate(
            sorted_col, init, step,
            lambda acc: F.struct(acc["best"].alias("best"),
                                 acc["nd"].alias("nd")))

    mid = staged.select("doc_id", *[
        c for n in ns for c in (F.size(f"_s{n}").alias(f"_t{n}"),
                                _fold(F.col(f"_s{n}")).alias(f"_f{n}"))])
    cols: list[Column] = []
    for n in ns:
        total = F.col(f"_t{n}")
        frac = lambda num: F.when(  # noqa: E731
            total > 0, num.cast("double") / total.cast("double"))
        cols += [
            total.alias(f"n{n}_grams"),
            frac(total - F.col(f"_f{n}.nd")).alias(f"dup{n}_frac"),
            frac(F.col(f"_f{n}.best")).alias(f"top{n}_frac"),
        ]
    return mid.select("doc_id", *cols)


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc token counts and fingerprints in ONE scan (one select, no
    join): whitespace tokens, a BPE-ish regex token count (letter/digit/
    punct runs, ``BPE_PATTERN``), the chars/4 heuristic and the max word
    length, plus the md5 of the full text (exact dup key) and a 60-bit
    md5-derived int usable as a shard/join key. At 100 TB a pipeline
    computes every per-doc text feature in a single pass over the corpus
    rather than one scan per feature family."""
    return df.select("doc_id", *_token_stat_cols(text_col),
                     *_fingerprint_cols(text_col))


def quality_lang(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality score and language ID in ONE scan (the
    single-pass rationale of :func:`text_profile`): the English stopword
    ratio, the mean word length and their combined score (exact integer
    counts, pinned double arithmetic), and the language with the most
    stopword hits, a tie going to the greater language code (greatest of
    (hits, lang) structs).
    The per-language stopword counters share the word split."""
    return df.select("doc_id", *_quality_cols(text_col),
                     *_lang_cols(text_col))


def vocab_topk(df: DataFrame, k: int = 100, text_col: str = "text"
               ) -> DataFrame:
    """Corpus vocabulary: the top-``k`` words by total occurrence count,
    with document frequency — the distributed wordcount that seeds a
    tokenizer/vocabulary build over a training corpus.

    Scale shape: explode → hash aggregate with map-side partial
    aggregation (word counts combine locally before the one exchange), and
    the k-cut runs as TakeOrderedAndProject — each partition keeps only k
    rows, the driver merges k·P rows — never a global sort
    materialization. The order (count desc, word asc) is total, so the
    boundary of the cut is deterministic cross-engine."""
    w = df.select("doc_id", F.explode(words(text_col)).alias("word"))
    return (w.groupBy("word")
            .agg(F.count("*").cast("long").alias("n_occ"),
                 F.countDistinct("doc_id").cast("long").alias("n_docs"))
            .orderBy(F.desc("n_occ"), F.asc("word")).limit(k))


def collocations(df: DataFrame, k: int = 50, min_count: int = 5,
                 text_col: str = "text") -> DataFrame:
    """Top-k collocations by LIFT — multi-word-expression mining, the
    association twin of :func:`bigram_lm_counts` (which ranks by raw
    frequency): ``lift(w1,w2) = n_bigram · N_unigrams / (n_w1 · n_w2)``,
    how much more often the pair co-occurs than independence predicts.
    PMI is ln(lift); the ln is monotone, so ranking by lift IS ranking by
    PMI without touching libm (the cross-engine-unsafe op the softmax
    notes document).

    Exactness: numerator and denominator are exact 128-bit decimal
    products; the score is ONE double division of exactly-converted
    integers (|·| < 2^53 at every test SF by orders of magnitude — the
    trend_slope conversion bound), so the (lift desc, w1, w2) k-cut is a
    deterministic total order any engine reproduces. ``min_count`` kills
    the hapax noise that dominates raw PMI.

    Shape: one unigram aggregation, one bigram aggregation (the pair
    stream forms JVM-side), two joins AT BIGRAM GRAIN (post-aggregation,
    post-min_count — never raw rows), corpus N as a broadcast 1-row
    cross join (the tfidf_topk motion), and a TakeOrderedAndProject
    k-cut. No raw-width re-shuffles.
    """
    if k < 1 or min_count < 1:
        raise ValueError("need k >= 1 and min_count >= 1")
    ws = df.select("doc_id", words(text_col).alias("_ws"))
    toks = ws.select(F.explode("_ws").alias("w"))
    # the w1 join, the w2 join and N read the unigram table. N derives
    # from the pinned counts (Σn ≡ total word occurrences, exact).
    uni = pin(toks.groupBy("w").agg(F.count("*").cast("long").alias("n")))
    tot = uni.agg(F.sum("n").cast("long").alias("_N"))
    pairs = (ws.select(F.explode(F.expr(
                 "transform(slice(_ws, 1, size(_ws) - 1), "
                 "(w, i) -> struct(w AS w1, _ws[i + 1] AS w2))")).alias("p"))
             .select("p.w1", "p.w2"))
    bg = (pairs.groupBy("w1", "w2")
          .agg(F.count("*").cast("long").alias("n_occ"))
          .filter(F.col("n_occ") >= int(min_count)))
    d38 = "decimal(38,0)"
    j = (bg
         .join(uni.select(F.col("w").alias("w1"),
                          F.col("n").alias("n_w1")), "w1")
         .join(uni.select(F.col("w").alias("w2"),
                          F.col("n").alias("n_w2")), "w2")
         .crossJoin(F.broadcast(tot)))
    lift = ((F.col("n_occ").cast(d38) * F.col("_N").cast(d38))
            .cast("double")
            / (F.col("n_w1").cast(d38) * F.col("n_w2").cast(d38))
            .cast("double"))
    return (j.withColumn("lift", lift)
            .orderBy(F.desc("lift"), "w1", "w2").limit(int(k))
            .select("w1", "w2", "n_occ", "n_w1", "n_w2", "lift"))


def bigram_lm_counts(df: DataFrame, k: int = 100, text_col: str = "text"
                     ) -> DataFrame:
    """Bigram language-model count table with Kneser-Ney continuation
    counts — the statistics a count-based LM (or a data-quality perplexity
    filter) needs: per bigram, the occurrence count, the document
    frequency, and ``n_left_contexts`` of the SECOND word — the number of
    DISTINCT words preceding it anywhere in the corpus, i.e. the
    Kneser-Ney continuation numerator N₁₊(•w).

    Scale shape: the pair stream crosses the wire ONCE, in ONE lineage —
    bigrams form JVM-side (transform over a slice, no per-row Python), an
    explicit ``repartition(w1, w2)`` feeds both aggregation grains
    exchange-free (HashPartitioning on a subset satisfies the
    (w1,w2,doc) dedup and the bigram fold; a ``countDistinct`` instead
    would plan an expand shipping the stream twice at near-raw width),
    and the continuation count rides a WINDOW over the bigram table (one
    row per distinct pair ⇒ counting the w2 partition IS N₁₊(•w2)) — a
    branch-and-join formulation would re-execute the whole corpus scan
    for the second branch (measured: AQE does not reuse the repartition
    shuffle across branches). Only the bigram-grain rows re-hash for the
    window; the k-cut is TakeOrderedAndProject over a (n_occ desc, w1,
    w2) total order.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    pairs = (df
             .select("doc_id", words(text_col).alias("_ws"))
             .select("doc_id",
                     F.explode(F.expr(
                         "transform(slice(_ws, 1, size(_ws) - 1), "
                         "(w, i) -> struct(w AS w1, _ws[i + 1] AS w2))"))
                     .alias("p"))
             .select("doc_id", "p.w1", "p.w2")
             .repartition("w1", "w2"))
    per_doc = (pairs.groupBy("w1", "w2", "doc_id")
               .agg(F.count("*").alias("_n")))
    bg = (per_doc.groupBy("w1", "w2")
          .agg(F.sum("_n").cast("long").alias("n_occ"),
               F.count("*").cast("long").alias("n_docs")))
    cont = F.count("*").over(Window.partitionBy("w2")) \
            .cast("long").alias("n_left_contexts")
    return (bg.select("w1", "w2", "n_occ", "n_docs", cont)
            .orderBy(F.desc("n_occ"), F.asc("w1"), F.asc("w2")).limit(k))


def tfidf_topk(df: DataFrame, k: int = 5, text_col: str = "text",
               idf: str = "linear") -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF — the
    keyword-extraction / doc-signature pass of a training-data pipeline
    (e.g. topic balancing, near-dup triage beyond raw shingles).

    IDF variant: ``linear`` (default) scores ``tf · N / df`` — exact
    integer product, one IEEE division — so the score AND the (score desc,
    word asc) rank order are bit-reproducible by any SQL engine.
    ``ln`` scores the classical ``tf · ln(N/df)``; natural log is
    libm-unsafe cross-engine (the softmax-entropy argument, COVERAGE.md
    §2.3) so the ln variant is pytest-pinned vs NumPy and stays out of
    the value oracle.

    Scale shape — ONE lineage, no self-join: the (doc, word) tf table is
    aggregated once (map-side partials before the exchange), document
    frequency rides a WINDOW over it (one row per distinct (doc, word) ⇒
    counting the word partition IS df — the bigram_lm_counts trick; a
    groupBy+join branch would re-execute the corpus scan), and the
    per-doc k-cut is a row_number window. Three exchanges on the
    aggregated tf grain — orders of magnitude below raw corpus width —
    plus the single-row exchange of the corpus-count aggregate, which
    joins as a broadcast 1-row frame (never a driver-side collect).

    Output: doc_id, rank (1..k), word, tf, df_docs, score.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if idf not in ("linear", "ln"):
        raise ValueError(f"unknown idf variant {idf!r}")
    w = df.select("doc_id", F.explode(words(text_col)).alias("word"))
    tf = (w.groupBy("word", "doc_id")
          .agg(F.count("*").cast("long").alias("tf")))
    dfreq = F.count("*").over(Window.partitionBy("word")) \
             .cast("long").alias("df_docs")
    n1 = df.agg(F.count("*").cast("long").alias("_n_corpus"))
    scored = tf.select("doc_id", "word", "tf", dfreq) \
               .crossJoin(F.broadcast(n1))
    if idf == "linear":
        score = (F.col("tf") * F.col("_n_corpus")).cast("double") \
                 / F.col("df_docs").cast("double")
    else:
        score = F.col("tf").cast("double") * F.log(
            F.col("_n_corpus").cast("double") / F.col("df_docs").cast("double"))
    scored = scored.withColumn("score", score)
    rank = F.row_number().over(
        Window.partitionBy("doc_id")
        .orderBy(F.desc("score"), F.asc("word")))
    return (scored.withColumn("rank", rank.cast("int"))
            .filter(F.col("rank") <= k)
            .select("doc_id", "rank", "word", "tf", "df_docs", "score"))


PII_PATTERNS: dict[str, str] = {
    # the RE2 ∩ Java-regex dialect subset: character classes, bounded
    # repetition, \b word boundaries — no backrefs, no lookaround — so
    # Spark (java.util.regex) and any RE2-based SQL engine (DuckDB,
    # BigQuery) count and replace identically
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
}


def pii_scan(df: DataFrame, text_col: str = "text",
             patterns: dict[str, str] | None = None,
             mask: str = "<PII>") -> DataFrame:
    """PII detection + redaction scan — the scrubbing pass a training-data
    pipeline runs before anything else: per doc, the match count for every
    pattern class, the total, and the length of the text after ALL classes
    are masked (redaction itself is the same ``regexp_replace`` chain;
    emitting lengths keeps the driver-gate output scalar).

    Pure map — ``regexp_count``/``regexp_replace`` are JVM-side codegen'd
    expressions, no shuffle, no Python; at 100 TB this runs at scan speed
    and composes with any downstream filter (``n_pii = 0`` keeps a doc).
    Patterns must stay in the RE2 ∩ Java dialect subset (see
    ``PII_PATTERNS``) for cross-engine reproducibility.

    Output: doc_id, n_<class>…, n_pii, text_len, redacted_len.
    """
    pats = PII_PATTERNS if patterns is None else dict(patterns)
    if not pats:
        raise ValueError("at least one pattern class is required")
    if "pii" in pats:
        # n_pii is the reserved total column — a class of that name would
        # emit a duplicate column and break every downstream reference
        raise ValueError("'pii' is a reserved class name (n_pii = total)")
    cols = [F.col("doc_id")]
    total = F.lit(0)
    red = F.col(text_col)
    for name, pat in pats.items():
        c = F.regexp_count(F.col(text_col), F.lit(pat))
        cols.append(c.cast("long").alias(f"n_{name}"))
        total = total + c
        red = F.regexp_replace(red, pat, mask)
    return df.select(
        *cols, total.cast("long").alias("n_pii"),
        F.length(text_col).cast("long").alias("text_len"),
        F.length(red).cast("long").alias("redacted_len"))


def mixture_sample(df: DataFrame, rates: dict[str, float],
                   default: float = 1.0, source_col: str = "source",
                   id_col: str = "doc_id", salt: int = 7) -> DataFrame:
    """Deterministic source-mixture subsampling (dataset mixing weights, the
    interleave step of an LLM data pipeline): keep a doc iff its salted
    60-bit md5 mod 10000 falls below the source's rate×10000 threshold.

    Pure map — no shuffle, no RNG state: the same doc keeps or drops
    identically on any cluster size, retry, or re-run, which is what makes
    mixture weights reproducible (and auditable per-doc) at 100 TB. The
    salt decorrelates the decision from other md5-keyed ops (hash_split's
    unsalted bucket, the dedup hashes). Rates are quantized to 1/10000 so
    the threshold compare is exact-integer cross-engine."""
    from tsrollup.dedup import _h60

    thr: Column = F.lit(int(round(default * 10000)))
    for s, r in sorted(rates.items(), reverse=True):
        thr = (F.when(F.col(source_col) == F.lit(s),
                      F.lit(int(round(r * 10000)))).otherwise(thr))
    h = _h60(F.col(id_col).cast("string"), salt=salt) % 10000
    return df.withColumn("keep", h < thr)


def oov_rate(df: DataFrame, vocab_size: int = 20, text_col: str = "text",
             group_col: str = "source") -> DataFrame:
    """Vocabulary coverage per corpus slice: build the top-``vocab_size``
    vocabulary (the :func:`vocab_topk` cut — (count desc, word asc) is a
    total order, so the boundary is deterministic cross-engine), then
    report each ``group_col``'s out-of-vocabulary occurrence rate and
    distinct OOV type count — the coverage check a tokenizer build runs
    per source before freezing a vocab.

    Two passes over the corpus by construction (vocabulary, then
    measurement — the heavy_hitters shape): the vocab pass k-cuts with
    TakeOrderedAndProject (bounded driver merge) and ships back as a
    BROADCAST side, so the measurement pass is scan → broadcast left join
    → one (group) aggregation; the distinct-OOV-type count re-groups at
    (group, word) grain with map-side partials. Counts exact; the rate is
    one exact-int64 IEEE division.

    Output: group_col, n_words, n_oov, oov_rate (double), n_oov_types.
    """
    if vocab_size < 1:
        raise ValueError("vocab_size must be >= 1")
    exploded = df.select(F.col(group_col).alias("grp"),
                         F.explode(words(text_col)).alias("word"))
    vocab = (exploded.groupBy("word")
             .agg(F.count("*").alias("_n"))
             .orderBy(F.desc("_n"), F.asc("word")).limit(int(vocab_size))
             .select("word", F.lit(1).alias("_in_vocab")))
    j = exploded.join(F.broadcast(vocab), "word", "left")
    oov = F.col("_in_vocab").isNull()
    per_word = (j.groupBy("grp", "word")
                .agg(F.count("*").cast("long").alias("_occ"),
                     F.max(oov.cast("int")).alias("_oov")))
    return (per_word
            .groupBy("grp")
            .agg(F.sum("_occ").cast("long").alias("n_words"),
                 F.sum(F.when(F.col("_oov") == 1, F.col("_occ"))
                       .otherwise(F.lit(0))).cast("long").alias("n_oov"),
                 F.sum("_oov").cast("long").alias("n_oov_types"))
            .select(F.col("grp").alias(group_col), "n_words", "n_oov",
                    (F.col("n_oov").cast("double")
                     / F.col("n_words").cast("double")).alias("oov_rate"),
                    "n_oov_types"))


def token_budget(df: DataFrame, budgets: dict[str, int],
                 default_budget: int | None = None,
                 source_col: str = "source",
                 n_tok_col: str = "n_tok") -> DataFrame:
    """Per-source sampling rates from token BUDGETS — the planning step
    ahead of :func:`mixture_sample` (which applies rates): given a target
    token count per source, compute each source's corpus total and the
    keep-rate that hits the budget in expectation. Budget → rate here,
    rate → deterministic per-doc keep there; together they are the
    dataset-mixing loop of an LLM pipeline (sources oversized vs their
    budget get down-sampled, sources within budget keep everything).

    Exactness: totals are int64 token sums (map-side partials, one tiny
    per-source rollup — the corpus never shuffles); the rate is quantized
    to basis points by INTEGER floor division (budget·10000 div total —
    exact cross-engine, and the same 1/10000 grid mixture_sample
    thresholds on), capped at 10000; expected_tokens = total·rate_bp div
    10000, again integer. Sources without a budget (and no default) keep
    rate_bp 10000.

    Output: source, n_docs (long), total_tokens (long), budget_tokens
    (long, NULL when uncapped), rate_bp (long), expected_tokens (long).
    """
    for s, b in budgets.items():
        if b < 0:
            raise ValueError(f"negative budget for {s!r}")
    if default_budget is not None and default_budget < 0:
        raise ValueError("negative default_budget")
    # coalesce: a source whose n_tok values are ALL NULL totals 0 (not
    # NULL), so the rate stays a non-null long (budget >= 0 ⇒ bp 10000)
    totals = (df.groupBy(F.col(source_col).alias("source"))
              .agg(F.count("*").cast("long").alias("n_docs"),
                   F.coalesce(F.sum(F.col(n_tok_col).cast("long")),
                              F.lit(0)).cast("long")
                   .alias("total_tokens")))
    budget: Column = (F.lit(None).cast("long") if default_budget is None
                      else F.lit(int(default_budget)).cast("long"))
    for s, b in sorted(budgets.items(), reverse=True):
        budget = F.when(F.col("source") == F.lit(s),
                        F.lit(int(b)).cast("long")).otherwise(budget)
    staged = totals.select("source", "n_docs", "total_tokens",
                           budget.alias("budget_tokens"))
    # integer `div`, not float divide-then-cast: a double division of
    # int64s can floor one ulp off past 2^53 (budgets stay < 2^63/10^4)
    rate_bp = F.when(
        F.col("budget_tokens").isNull()
        | (F.col("budget_tokens") >= F.col("total_tokens")),
        F.lit(10000).cast("long")
    ).otherwise(F.expr("(budget_tokens * 10000) div total_tokens"))
    return (staged
            .withColumn("rate_bp", rate_bp)
            .withColumn("expected_tokens",
                        F.expr("(total_tokens * rate_bp) div 10000")))


def stratified_split(df: DataFrame,
                     weights: tuple[tuple[str, int], ...] = (
                         ("train", 8), ("val", 1), ("test", 1)),
                     strata_col: str = "source",
                     id_col: str = "doc_id") -> DataFrame:
    """EXACT-proportion deterministic train/val/test assignment per
    stratum — the splitter a data pipeline wants when "80/10/10 per
    source" must hold to the document, not in expectation
    (:func:`~__spark_entry__.q_hash_split`'s md5-bucket split is
    proportional only in expectation; small or skewed strata drift).

    Each stratum's docs are ranked by (md5(id), id) — a deterministic
    shuffle both engines agree on byte-for-byte — and rank r of n maps
    to the virtual slot ``v = r·W div n`` (W = Σweights, exact int64:
    r·W < n·W stays far under 2^63), so split i receives EXACTLY the
    slots in its cumulative-weight range: counts per stratum differ
    from the ideal n·wᵢ/W by less than 1, deterministically.

    Shape: ONE exchange on the stratum — the count window, the rank
    window, and any downstream per-(stratum, split) aggregation all
    cluster on (a superset of) the stratum key. Adds a ``split``
    column; all input columns pass through.
    """
    labels = [str(s) for s, _ in weights]
    ws = [int(w) for _, w in weights]
    if len(labels) < 2 or len(set(labels)) != len(labels):
        raise ValueError("need >= 2 distinct split labels")
    if any(w <= 0 for w in ws):
        raise ValueError("weights must be positive integers")
    total = sum(ws)
    wstr = Window.partitionBy(strata_col)
    wrank = wstr.orderBy(F.md5(F.col(id_col).cast("string")),
                         F.col(id_col))
    staged = (df
              .withColumn("_r0",
                          (F.row_number().over(wrank) - 1).cast("long"))
              .withColumn("_n", F.count("*").over(wstr))
              # `div` — exact int64 floor division, the repo rule
              .withColumn("_v", F.expr(f"(_r0 * {total}) div _n")))
    cum = 0
    expr = None
    for lab, w in zip(labels, ws):
        cum += w
        cond = F.col("_v") < F.lit(cum)
        expr = F.when(cond, F.lit(lab)) if expr is None \
            else expr.when(cond, F.lit(lab))
    return staged.withColumn("split", expr).drop("_r0", "_n", "_v")


def unigram_surprisal(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document unigram LM score — the CCNet/Wenzek-et-al. perplexity
    quality filter with the LM reduced to the corpus's own unigram
    distribution: ``surprisal = −(1/n) Σ_w ln(c_w / N)`` (nats/token; low
    = stuffed with common words, high = rare-word soup — both tails are
    filter candidates). Self-scored, so every word has a count ≥ 1 and
    no smoothing constant is needed.

    Scale shape: TWO corpus scans — the floor for self-scoring (pass 1
    builds the count table, pass 2 joins it back). The corpus total N
    rides a vocab-grain running sum over the count table (single
    partition AT VOCAB GRAIN — never corpus rows), so no third scan and
    no scalar collect. The score join hashes on the word — at 100 TB the
    count table is vocab-sized and usually broadcastable, but the hash
    join is the safe default (AQE converts it when small).

    ``ln`` is libm-grade (JVM StrictMath vs DuckDB's libm may differ in
    the last ulp), so this op is ROWS-ONLY for cross-engine hashing —
    NumPy parity is pytest-pinned instead (the pca_whiten rule).

    Output: doc_id, n_tok (long), surprisal_nats, bits_per_token
    (doubles).
    """
    import math

    w = df.select("doc_id", F.explode(words(text_col)).alias("word"))
    counts = (w.groupBy("word")
              .agg(F.count("*").cast("long").alias("_c")))
    counts = counts.withColumn(
        "_n", F.sum("_c").over(
            Window.partitionBy()
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing)))
    scored = (w.join(counts, "word")
              .groupBy("doc_id")
              .agg(F.count("*").cast("long").alias("n_tok"),
                   F.sum(F.log(F.col("_c").cast("double")
                               / F.col("_n").cast("double")))
                   .alias("_sum_ln")))
    nats = -F.col("_sum_ln") / F.col("n_tok").cast("double")
    return scored.select(
        "doc_id", "n_tok", nats.alias("surprisal_nats"),
        (nats / math.log(2.0)).alias("bits_per_token"))


def group_sample(df: DataFrame, k: int = 10,
                 group_col: str = "source",
                 id_col: str = "doc_id") -> DataFrame:
    """Deterministic uniform-style sample of ``k`` rows PER GROUP — the
    reproducible TABLESAMPLE a 100 TB pipeline actually wants: eyeball
    k docs per source, get the SAME k on every run, every engine, every
    partitioning (`df.sample()` is seed-and-partitioning dependent;
    LIMIT is scan-order dependent — neither survives a re-run, and
    neither can be oracle-checked).

    The sample is the k smallest (md5(id), id) per group — the same
    deterministic-shuffle rank :func:`stratified_split` orders by, so
    "random-looking" but exactly reproducible and SQL-expressible.
    Groups with fewer than k rows return whole.

    Shape: one window rank per group — a single exchange on the group
    key, and rank ≤ k prunes before anything downstream; no global sort,
    no driver collect. All input columns pass through plus
    ``sample_rank`` (1-based).
    """
    if k < 1:
        raise ValueError("need k >= 1")
    r = F.row_number().over(
        Window.partitionBy(group_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col)))
    return (df.withColumn("sample_rank", r.cast("long"))
            .filter(F.col("sample_rank") <= k))


def length_histogram(df: DataFrame, text_col: str = "text",
                     group_col: str = "source") -> DataFrame:
    """Per-source doc-length histogram on exact power-of-two buckets —
    the input a sequence-packing planner reads before choosing capacity
    (``windowing.pack_offsets``): the waste of packing length-L docs
    into capacity-C bins is governed by the mass in each octave of L.

    Bucket = bit_length(n_words), computed as ``length(bin(n))`` —
    integer-exact and engine-portable (the same device as the HLL rho),
    never log2. Bucket b covers lengths [2^(b−1), 2^b); empty docs
    (0 words is impossible — split keeps empties — but 0 guards anyway)
    land in bucket 0. Exact counts + exact length sums per bucket; the
    one float per row is the share division.

    One (group, bucket)-grain exchange behind a map-side partial.

    Precondition: ``text_col`` is non-NULL (the documents convention). A
    NULL text would give ``size(split(NULL)) = -1`` in Spark — bucket 0
    with a −1 word-sum contribution — where the DuckDB oracle yields a
    NULL bucket; the divergence is unreachable on the fixture (no NULL
    docs) and is pinned here rather than papered over with a filter the
    frozen oracle SQL does not share.

    Output: group_col, bucket (int), lo (long, 2^(b−1) or 0), n_docs
    (long), n_words_sum (long), n_group (long), share (double).
    """
    n = F.size(words(text_col)).cast("long")
    bucket = (F.when(n <= 0, F.lit(0))
              .otherwise(F.length(F.bin(n))).cast("int"))
    w = Window.partitionBy(group_col)
    return (df
            .select(F.col(group_col), n.alias("_n"),
                    bucket.alias("bucket"))
            .groupBy(group_col, "bucket")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("_n").cast("long").alias("n_words_sum"))
            .withColumn("lo",
                        F.when(F.col("bucket") == 0, F.lit(0).cast("long"))
                        # shiftleft() the SQL function takes a column bit
                        # count; the F.shiftleft wrapper only takes an int
                        .otherwise(F.expr(
                            "shiftleft(cast(1 as bigint), bucket - 1)")))
            .withColumn("n_group", F.sum("n_docs").over(w))
            .withColumn("share", F.col("n_docs").cast("double")
                        / F.col("n_group").cast("double"))
            .select(group_col, "bucket", "lo", "n_docs", "n_words_sum",
                    "n_group", "share"))
