"""Text-analysis operators for large-scale training-data pipelines.

Beyond reference parity (SURVEY §7.2 step 8): language-ID (stopword n-gram
heuristic), quality scoring (length/punct/stopword ratios), token counting,
and document fingerprinting (md5-based). All pure built-in expressions —
JVM-side, whole-stage codegen, no UDFs — so they scale linearly with a
100 TB documents table (embarrassingly parallel, zero shuffles).

Every formula is mirrored verbatim in the DuckDB oracle
(billing_etl_v1_spark/oracle_ext.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from billing_etl_v1_spark.functions import quantize6, quantize6_staged

# deterministic stopword sets for the language heuristic
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "on"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "pas", "pour", "dans", "un", "une"],
    "es": ["el", "los", "y", "es", "no", "por", "para", "un", "una", "como"],
}

QUALITY_STOPWORDS = LANG_STOPWORDS["en"]

PUNCT_CLASS = "[.,!?;:]"
DIGIT_CLASS = "[0-9]"

# BPE-ish pre-tokenization: letter runs, digit runs, and single punctuation
# marks each count as one token (the word/number/symbol split every BPE
# vocabulary starts from). Same pattern runs in Java regex and RE2 (DuckDB).
# the whitespace class is spelled out because \s is engine-dependent at
# the edges: Java regex \s includes U+000B (vertical tab), DuckDB's RE2
# \s does not, and Python's str-pattern \s is Unicode-wide — so 'a\x0Bb'
# tokenized as 2 pre-tokens on Spark but 3 in the oracle. The explicit
# class means Spark, DuckDB (oracle_ext interpolates this constant), and
# the naive test references all split identically; escapes are shared
# RE2/Java/Python syntax and pass through SQL string literals unchanged.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r\x0B]"

# same edge, same cure, for every whitespace SPLIT/normalize: this class
# equals Java's \s exactly (so Spark plans are unchanged), while DuckDB's
# RE2 \s excludes \x0B — a vertical tab flipped token_count, and with it
# quality_score/lang_id/fingerprints, between the engines until the
# oracle twins started interpolating this constant instead of \s
WS_RE = r"[ \t\n\f\r\x0B]+"


def bpe_token_count(col: Column) -> Column:
    """Count of BPE-style pre-tokens (letter runs / digit runs / symbols).

    regexp_count, not size(regexp_extract_all(...)): both walk the same
    non-overlapping match sequence (identical counts, verified
    value-equal), but extract_all materializes every matched substring
    into an array just to take its length — pure allocation per document
    at corpus scale (r11, guide §1.2 per-task work)."""
    return F.regexp_count(col, F.lit(BPE_TOKEN_RE))


def _tokens(col: Column) -> Column:
    return F.split(F.trim(F.lower(col)), WS_RE)


def token_count(col: Column) -> Column:
    """Whitespace token count; empty/blank text counts 0."""
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(
        F.size(_tokens(col))
    )


def _class_ratio(col: Column, single_char_class: str) -> Column:
    """Fraction of characters matching a regex character class.

    regexp_count of a single-char class = matching-char count — identical
    to the old length-minus-stripped-length form (verified value-equal)
    without allocating the stripped copy of every document (r11).

    ``single_char_class`` MUST match exactly one character per match
    (ADVICE r11): a quantified pattern like '[0-9]+' would count RUNS
    here but counted CHARACTERS under the old stripped-length form.
    Current callers pass PUNCT_CLASS / DIGIT_CLASS (bare one-char
    classes); keep it that way or convert the count back to characters
    first."""
    removed = F.regexp_count(col, F.lit(single_char_class))
    return F.when(F.length(col) == 0, F.lit(0.0)).otherwise(
        removed.cast("double") / F.length(col).cast("double")
    )


def _hits_in(toks: Column, stopwords: list[str]) -> Column:
    arr = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def text_stats(
    df: DataFrame, text_col: str = "text", keep_tokens_col: str | None = None
) -> DataFrame:
    """Per-document stats + a deterministic quality score.

    The token array is STAGED as a real column and every metric references
    it: higher-order functions (filter + lambda) defeat Spark's runtime
    subexpression elimination, so inlining ``split(...)`` into each metric
    re-tokenizes the text once per metric per evaluation site (measured
    ~2.3 s -> ~0.9 s on the 5k-doc corpus pass). CollapseProject keeps a
    non-cheap multiply-referenced alias in its own projection, so the stage
    survives optimization. ``keep_tokens_col`` exposes the staged array to
    downstream operators (``lang_id`` accepts it) so a composed pipeline
    tokenizes each document once, not once per stage.
    """
    c = F.col(text_col)
    staged = df.withColumn(keep_tokens_col or "__toks", _tokens(c))
    toks = F.col(keep_tokens_col or "__toks")
    tc = F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(F.size(toks))
    # stage the RAW regex/array ratios before quantizing: quantize6's
    # envelope guard references its argument twice, and quality references
    # punct/digit again — inlined, each regexp_replace sweep would run
    # 2-4x per row. Staged non-cheap multi-referenced aliases survive
    # CollapseProject, so each ratio is computed once per document.
    raw = staged.withColumns(
        {
            "__punct": _class_ratio(c, PUNCT_CLASS),
            "__digit": _class_ratio(c, DIGIT_CLASS),
            "__stop": F.when(tc == 0, F.lit(0.0)).otherwise(
                _hits_in(toks, QUALITY_STOPWORDS).cast("double") / tc.cast("double")
            ),
        }
    )
    quality = (
        F.least(F.lit(1.0), tc.cast("double") / F.lit(100.0))
        * (F.lit(1.0) - F.least(F.lit(1.0), F.lit(4.0) * F.col("__punct")))
        * (F.lit(1.0) - F.least(F.lit(1.0), F.lit(4.0) * F.col("__digit")))
    )
    out = raw.withColumns(
        {
            "char_count": F.length(c).cast("int"),
            "token_count": tc.cast("int"),
            "bpe_token_count": bpe_token_count(c).cast("int"),
            "punct_ratio": quantize6(F.col("__punct")),
            "digit_ratio": quantize6(F.col("__digit")),
            "stopword_ratio": quantize6(F.col("__stop")),
            "quality_score": quantize6(quality),
        }
    ).drop("__punct", "__digit", "__stop")
    return out if keep_tokens_col else out.drop("__toks")


def lang_id(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "lang_pred",
    tokens_col: str | None = None,
) -> DataFrame:
    """Stopword-voting language heuristic; 'und' when no language scores.

    Ties break by language code ascending — mirrored in the oracle.

    Tokenization and the per-language hit counts are staged as columns
    (same rationale as text_stats): the vote CASE then compares cheap int
    attributes instead of re-running 4 lambda filters per branch. Pass
    ``tokens_col`` to reuse an already-staged token array (e.g. from
    ``text_stats(keep_tokens_col=...)``) instead of re-splitting the text.
    """
    c = F.col(text_col)
    if tokens_col is None:
        staged = df.withColumn(f"__toks_{out_col}", _tokens(c))
        toks = F.col(f"__toks_{out_col}")
    else:
        staged = df
        toks = F.col(tokens_col)
    hit_cols = {lang: f"__hits_{out_col}_{lang}" for lang in LANG_STOPWORDS}
    staged = staged.withColumns(
        {hit_cols[lang]: _hits_in(toks, sw) for lang, sw in LANG_STOPWORDS.items()}
    )
    # argmax as array_max over (hits, -index, lang) structs: lexicographic
    # struct comparison gives max hits with ties to the ascending-code
    # language (same semantics as the oracle's CASE chain), and each hit
    # count appears EXACTLY ONCE in the expression — so even when predicate
    # pushdown inlines the whole thing into a scan-side filter, the text is
    # tokenized once per language, not once per CASE branch (O(n) vs O(n^2)
    # in the language count)
    ordered = sorted(LANG_STOPWORDS)
    votes = F.array(
        *[
            F.struct(
                F.col(hit_cols[lang]).alias("h"),
                F.lit(-i).alias("p"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(ordered)
        ]
    )
    best = F.array_max(votes)
    # coalesce: NULL text gives NULL hit counts, best["h"] == 0 evaluates
    # to NULL, and the when() fell through to the tie-break winner 'de'
    # while the oracle's CASE returned 'und' (review finding, verified
    # live) — no-hit and NULL-text documents are both 'und'
    pred = F.when(
        F.coalesce(best["h"], F.lit(0)) == 0, F.lit("und")
    ).otherwise(best["lang"])
    return staged.withColumn(out_col, pred).drop(
        f"__toks_{out_col}", *hit_cols.values()
    )


def md5_long(col: Column, salt: str | None = None) -> Column:
    """Engine-identical 60-bit integer hash: first 15 hex chars of md5.

    DuckDB twin: ('0x' || substr(md5(x), 1, 15))::BIGINT.
    """
    if salt is not None:
        col = F.concat(F.lit(salt + "|"), col)
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints: md5 hex + 60-bit int of the normalized text
    (lowercased, whitespace collapsed)."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), WS_RE, " ")
    return df.withColumns(
        {
            "fingerprint_md5": F.md5(norm),
            "fingerprint_int": md5_long(norm),
        }
    )


def _word_grams(col_name: str, n: int) -> Column:
    """Word n-grams of a token-array column as a pure array transform
    (JVM-side; callers choose whether to explode). Documents shorter than
    ``n`` tokens yield an empty array (sequence() would run descending)."""
    return F.when(
        F.size(F.col(col_name)) >= n,
        F.expr(
            f"transform(sequence(1, size({col_name}) - {n} + 1),"
            f" i -> concat_ws(' ', slice({col_name}, i, {n})))"
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document repetition quality signals (the Gopher/C4-style gate
    against degenerate loops): duplicate fraction of words, bigrams, and
    trigrams — dup_frac = 1 − distinct/total — plus a boolean gate.

    Entirely map-side: no explode, no shuffle, no state — the ideal 100 TB
    shape (embarrassingly parallel over a documents scan). The n-grams are
    represented as STRUCTS of shifted slices (``arrays_zip(toks[0:n-1],
    toks[1:n], ...)``), not concatenated strings: the string form costs an
    interpreted higher-order transform + one slice/concat allocation PER
    GRAM (~500 per doc), while the zip form is 2-3 O(len) slices per row
    with ``array_distinct`` comparing token references. Tokens contain no
    whitespace, so struct-distinct counts equal string-gram distinct
    counts exactly — the DuckDB oracle keeps the string formulation and
    the hash still matches (measured ~2x on the sf0.1 corpus).
    """
    toks = _tokens(F.col(text_col))
    d = df.withColumn("__toks", toks)
    sz = F.size("__toks")

    def dup_frac_zip(n: int) -> Column:
        total = sz - (n - 1)
        grams = F.arrays_zip(
            *[F.slice("__toks", i + 1, total) for i in range(n)]
        )
        return F.when(total <= 0, F.lit(0.0)).otherwise(
            F.lit(1.0)
            - F.size(F.array_distinct(grams)).cast("double") / total.cast("double")
        )

    dup_word = F.when(sz <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct("__toks")).cast("double") / sz.cast("double")
    )
    # stage the RAW fractions, quantize the attribute: quantize6's envelope
    # guard references its argument twice, and inlining re-evaluates the
    # array_distinct-over-grams subtree per reference (measured 2.6x —
    # 1.8s -> 0.7s on the sf0.1 corpus). CollapseProject keeps the
    # multiply-referenced non-cheap aliases staged; one codegen stage.
    raw = d.select(
        "doc_id",
        "lang",
        "source",
        token_count(F.col(text_col)).cast("bigint").alias("n_tokens"),
        dup_word.alias("__rw"),
        dup_frac_zip(2).alias("__r2"),
        dup_frac_zip(3).alias("__r3"),
    )
    out = raw.select(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        quantize6(F.col("__rw")).alias("dup_word_frac"),
        quantize6(F.col("__r2")).alias("dup_2gram_frac"),
        quantize6(F.col("__r3")).alias("dup_3gram_frac"),
    )
    return out.withColumn(
        "is_repetitive",
        (F.col("dup_3gram_frac") > 0.2) | (F.col("dup_word_frac") > 0.9),
    )


def decontaminate(
    df: DataFrame,
    text_col: str = "text",
    n: int = 5,
    eval_mod: int = 97,
    eval_docs: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any word
    ``n``-gram with an evaluation/benchmark set — the overlap check every
    serious training-data pipeline runs before a model sees the corpus.

    Pass the real benchmark table as ``eval_docs`` (any frame with
    ``text_col``); without one, the deterministic ``doc_id % eval_mod``
    slice of the corpus stands in (the driver-verifiable form). Output:
    one row per NON-eval doc with the count of distinct benchmark
    n-grams it contains and a contamination flag.

    Scale shape: the benchmark n-gram set is broadcast (benchmarks are
    MB-scale, corpora are TB-scale), the training side's n-grams are a
    map-side explode feeding that broadcast hash join, and only MATCHED
    rows reach the per-doc count shuffle — contamination is rare, so the
    exchange carries almost nothing. If the benchmark outgrows broadcast,
    drop the hint and the same plan shuffles both sides on the gram key.
    """
    toks = df.select("doc_id", _tokens(F.col(text_col)).alias("__toks"))
    grams = toks.select(
        "doc_id", F.explode(_word_grams("__toks", n)).alias("gram")
    )
    if eval_docs is not None:
        eval_grams = (
            eval_docs.select(_tokens(F.col(text_col)).alias("__toks"))
            .select(F.explode(_word_grams("__toks", n)).alias("gram"))
            .distinct()
        )
        train_grams = grams
        train_base = df
    else:
        eval_grams = (
            grams.filter(F.col("doc_id") % eval_mod == 0).select("gram").distinct()
        )
        train_grams = grams.filter(F.col("doc_id") % eval_mod != 0)
        train_base = df.filter(F.col("doc_id") % eval_mod != 0)
    train_hits = (
        train_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_overlap_grams"))
    )
    base = train_base.select("doc_id", "lang", "source")
    return base.join(train_hits, "doc_id", "left").select(
        "doc_id",
        "lang",
        "source",
        F.coalesce(F.col("n_overlap_grams"), F.lit(0)).cast("bigint").alias(
            "n_overlap_grams"
        ),
        (F.coalesce(F.col("n_overlap_grams"), F.lit(0)) > 0).alias(
            "is_contaminated"
        ),
    )


def decontaminate_fuzzy(
    df: DataFrame,
    text_col: str = "text",
    eval_mod: int = 97,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate benchmark decontamination: flag training documents
    whose MinHash-estimated Jaccard against ANY evaluation document reaches
    ``threshold`` — the paraphrase-level companion to :func:`decontaminate`
    (exact n-gram overlap misses reworded benchmark leakage; LSH banding
    catches it at the same cost profile as near-dup dedup).

    Same deterministic eval stand-in as :func:`decontaminate`
    (``doc_id % eval_mod == 0``); real pipelines pass a benchmark table.
    Output per NON-eval doc: candidate count, near-dup eval count at the
    threshold, max estimated Jaccard, and the contamination flag.

    Scale shape: benchmark signatures are tiny → their banded keys enter a
    BROADCAST join probed map-side by the corpus signatures; the corpus
    never self-joins and only matched candidates reach the per-doc
    aggregate. Exactly the decontaminate plan with signatures in place of
    raw n-grams.
    """
    from billing_etl_v1_spark.operators.dedup import (
        NUM_MINHASH,
        _banded,
        _memo_persist_sig,
        minhash_signatures,
    )

    is_eval = F.col("doc_id") % eval_mod == 0
    # persist through the dedup memo: each signature table feeds two
    # consumers (banding + the estimate join); without this the k-transform
    # signature build re-runs per consumer (measured 7.8s -> ~1s at sf0.1)
    train_sig = _memo_persist_sig(
        minhash_signatures(df.filter(~is_eval), "doc_id", text_col)
    )
    eval_sig = _memo_persist_sig(
        minhash_signatures(df.filter(is_eval), "doc_id", text_col)
    )
    tb, eb = _banded(train_sig), _banded(eval_sig)
    cand = (
        tb.alias("t")
        .join(
            F.broadcast(eb.alias("e")),
            (F.col("t.band_idx") == F.col("e.band_idx"))
            & (F.col("t.band_key") == F.col("e.band_key")),
        )
        .select(F.col("t.doc").alias("doc_a"), F.col("e.doc").alias("doc_b"))
        .distinct()
    )
    k = NUM_MINHASH
    ta = train_sig.select(
        F.col("doc").alias("doc_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(k)]
    )
    ebs = eval_sig.select(
        F.col("doc").alias("doc_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(k)]
    )
    est = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(k)
    ) / F.lit(float(k))
    # staged so the k signature comparisons run once per candidate pair,
    # not once per quantize6 guard reference
    scored = quantize6_staged(
        cand.join(F.broadcast(ebs), "doc_b").join(ta, "doc_a"),
        ["doc_a", "doc_b"],
        est,
        "est",
    )
    hits = scored.groupBy("doc_a").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(F.col("est") >= threshold, 1).otherwise(0)).alias("n_near_eval"),
        quantize6(F.max("est")).alias("max_est_jaccard"),
    )
    base = df.filter(~is_eval).select("doc_id", "lang", "source")
    return base.join(
        hits.withColumnRenamed("doc_a", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        "lang",
        "source",
        F.coalesce(F.col("n_candidates"), F.lit(0)).cast("bigint").alias("n_candidates"),
        F.coalesce(F.col("n_near_eval"), F.lit(0)).cast("bigint").alias("n_near_eval"),
        F.coalesce(F.col("max_est_jaccard"), F.lit(0.0)).alias("max_est_jaccard"),
        (F.coalesce(F.col("n_near_eval"), F.lit(0)) > 0).alias("is_contaminated"),
    )


def bigram_fluency(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-frequency fluency scoring — the language-model-perplexity
    proxy of CCNet-style pipelines without the model: a document whose
    bigrams are common across the corpus reads as fluent; one full of
    never-seen-again bigrams is noise. Per doc: bigram count, mean corpus
    frequency of its bigrams, and the hapax fraction (bigrams occurring
    exactly once corpus-wide).

    All scores derive from exact integer counts (no log(): libm
    implementations differ in the last ulp across engines, which a 1e-6
    quantization boundary can amplify — the tf-idf operator's rational-idf
    lesson). Scale shape: corpus counts are one gram-keyed aggregate, the
    rejoin shuffles grams once more, and the per-doc rollup clusters on
    doc_id — the same three-exchange shape as tf-idf, all key-partitioned.
    """
    toks = df.select("doc_id", _tokens(F.col(text_col)).alias("__toks"))
    grams = toks.select("doc_id", F.explode(_word_grams("__toks", 2)).alias("gram"))
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("freq"))
    scored = (
        grams.join(counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("freq").alias("__sum_freq"),
            F.sum(F.when(F.col("freq") == 1, 1).otherwise(0)).alias("__hapax"),
        )
    )
    return df.select("doc_id", "lang", "source").join(scored, "doc_id", "left").select(
        "doc_id",
        "lang",
        "source",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint").alias("n_bigrams"),
        quantize6(
            F.coalesce(F.col("__sum_freq") / F.col("n_bigrams"), F.lit(0.0))
        ).alias("avg_bigram_freq"),
        quantize6(
            F.coalesce(F.col("__hapax") / F.col("n_bigrams"), F.lit(0.0))
        ).alias("hapax_frac"),
    )


# Karp-Rabin polynomial hash constants for winnow_fingerprints: base just
# above the codepoint alphabet, modulus a prime < 2^40 so every Horner step
# (h*B + c <= M*B + 2^21 ~ 2.8e14) stays far inside BIGINT in both engines.
WINNOW_BASE = 257
WINNOW_MOD = 1_099_511_627_689


def winnow_fingerprints(
    df: DataFrame, text_col: str = "text", k: int = 8, window: int = 4
) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (the MOSS
    algorithm): hash every character ``k``-gram of the normalized text,
    then keep the minimum hash of each window of ``window`` consecutive
    positions; the distinct minima are the document's fingerprint set.
    Two documents sharing a fingerprint share at least one k-char run —
    the guarantee winnowing adds over random sampling is that any match
    of length ≥ k + window − 1 is always detected.

    Data contract: ``doc_id`` must be unique — per-document position
    windows tie under duplicate ids and tie order is engine-dependent;
    :func:`corpus_dq_audit` makes the contract checkable.

    Formulated as char-explode → per-position Karp-Rabin hash (Horner over
    ``lead()`` codepoints, mod a < 2^40 prime) → sliding-window MIN →
    per-doc distinct. Two rejected formulations, both measured:

    - nested array lambdas: Catalyst inlines the hash-array expression into
      the window lambda (projection collapse) and evaluates higher-order
      functions interpreted, re-computing every k-gram hash per window —
      O(positions²) regex+md5 per document (~50 min at sf0.1);
    - per-position ``md5(substring(__norm, i, k))`` (rounds 1-2): correct
      and linear in hash count, but each ``substring`` re-scans the
      UTF8String from the front to find the char offset — O(position) per
      row, O(len²) byte-scans per document — and md5+hex+conv per position
      dominates. The polynomial form is pure BIGINT arithmetic (also truer
      to MOSS, which specifies rolling hashes), cuts the operator ~2× at
      sf0.1, and stays exactly reproducible in DuckDB (same Horner, same
      integer mod), unlike engine-native xxhash64/murmur which have no
      DuckDB twin.

    The ``lead``s and the ROWS-frame MIN share one doc_id-partitioned,
    position-ordered sort, so the per-doc shuffle is paid once and the
    operator scales linearly in corpus bytes (SCALE_PROBE confirms ~0.6×
    time-ratio per 10× bytes). Documents shorter than ``k`` chars yield no
    rows; documents with fewer than ``window`` k-grams yield their single
    global-min fingerprint.
    """
    from pyspark.sql import Window

    d = df.select(
        "doc_id",
        F.regexp_replace(F.trim(F.lower(F.col(text_col))), WS_RE, " ").alias(
            "__norm"
        ),
    ).filter(F.length("__norm") >= k)
    chars = d.select(
        "doc_id",
        (F.length("__norm") - F.lit(k) + 1).alias("__n_pos"),
        F.posexplode(F.split("__norm", "")).alias("__j", "__ch"),
    ).select(
        "doc_id",
        "__n_pos",
        (F.col("__j") + 1).alias("__i"),
        F.ascii("__ch").alias("__c"),
    )
    wl = Window.partitionBy("doc_id").orderBy("__i")
    h = F.col("__c") % F.lit(WINNOW_MOD)
    for j in range(1, k):
        # lead() past the last char is NULL, so positions with no full
        # k-gram hash to NULL and are ignored by the frame MIN below
        h = (h * F.lit(WINNOW_BASE) + F.lead("__c", j).over(wl)) % F.lit(WINNOW_MOD)
    hashed = chars.select("doc_id", "__n_pos", "__i", h.alias("__h"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("__i")
        .rowsBetween(Window.currentRow, window - 1)
    )
    mins = hashed.withColumn("__wmin", F.min("__h").over(w)).filter(
        (F.col("__i") <= F.col("__n_pos") - window + 1)
        | ((F.col("__n_pos") < window) & (F.col("__i") == 1))
    )
    return mins.select(
        "doc_id", F.col("__wmin").alias("fingerprint")
    ).dropDuplicates(["doc_id", "fingerprint"])


def chunk_documents(
    df: DataFrame, text_col: str = "text", chunk_tokens: int = 32, stride: int = 24
) -> DataFrame:
    """Split documents into fixed-token chunks with overlap (stride <
    chunk_tokens ⇒ consecutive chunks share ``chunk_tokens − stride``
    tokens) — the windowing step before sequence packing in a training
    pipeline (pair with corpus.pack_shards for the packing half).
    Data contract: ``doc_id`` unique (positional windows —
    :func:`corpus_dq_audit` checks it).

    Shape: tokens explode to ROWS, each token computes ARITHMETICALLY
    which chunks it belongs to (<= ceil(chunk/stride) of them — a 1-to-2
    map-side expansion at the default 32/24), and chunks reassemble with
    one (doc, chunk)-keyed aggregate whose per-group work is bounded by
    ``chunk_tokens`` (the pack_blocks pattern). Linear in corpus tokens.

    NOT the obvious ``transform(sequence(...), s -> slice(toks, s, k))``
    one-liner: interpreted higher-order lambdas + projection collapse
    inline the tokenization INTO the lambda body, re-splitting the whole
    document once per chunk — O(chunks x doc_len), measured as a >120s
    hang on one 400k-token document while this form takes seconds (the
    winnowing lesson, round 2, re-learned on chunking in round 5).

    Blank documents produce no chunks. The tail chunk may be shorter than
    ``chunk_tokens``; every token is covered exactly ``ceil(chunk/stride)``
    times or fewer (deterministic).
    """
    toks = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        # NULL-key lane: chunks reassemble by (doc_id, chunk_idx), so NULL
        # doc_ids would merge unrelated documents' tokens into one
        # interleaved garbage chunk (the per-row twin emits them
        # separately) — exclude at ingestion like every other
        # key-dependent operator, mirrored in chunk_documents_sql
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", F.posexplode(_tokens(F.col(text_col))).alias("__p0", "__tok"))
        .withColumn("__p", F.col("__p0") + 1)  # 1-based token position
    )
    # chunk k (0-based) spans 1-based positions [1 + k*stride, k*stride + chunk]:
    # token p belongs to k in [ceil((p - chunk)/stride), (p-1) div stride],
    # clamped at 0. Double ceil is exact here (positions << 2^53).
    k_lo = F.greatest(
        F.lit(0),
        F.ceil((F.col("__p") - F.lit(chunk_tokens)) / F.lit(float(stride))).cast("int"),
    )
    k_hi = F.floor((F.col("__p") - 1) / F.lit(stride)).cast("int")
    pieces = toks.select(
        "doc_id",
        "__p",
        "__tok",
        # k_lo > k_hi means the token sits in a gap (stride > chunk_tokens
        # configs): it belongs to NO chunk. Unguarded, sequence(k_lo, k_hi)
        # runs DESCENDING and assigns it to two wrong chunks — the same
        # footgun top_ngrams guards; when() yields NULL and explode drops it
        F.explode(F.when(k_lo <= k_hi, F.sequence(k_lo, k_hi))).alias("chunk_idx"),
    )
    return pieces.groupBy("doc_id", "chunk_idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunk_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__p", "__tok"))),
                lambda s: s["__tok"],
            ),
            " ",
        ).alias("chunk_text"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        "n_chunk_tokens",
        "chunk_text",
    )


def top_ngrams(df: DataFrame, text_col: str = "text", k: int = 20) -> DataFrame:
    """Corpus-wide top-k word bigrams by frequency.

    Tokens use the same whitespace split as every other text operator;
    bigram construction is a pure array transform (JVM-side, no UDF), so
    the only shuffle is the final count — a classic two-level aggregate
    whose partial (map-side) combine collapses each partition's counts
    before the exchange. Ties break by ngram ascending so the top-k row
    SET is deterministic. Single-token and blank documents contribute
    nothing (guard: sequence() would run descending for size<2).
    """
    with_toks = df.select(_tokens(F.col(text_col)).alias("__toks"))
    grams = F.when(
        F.size(F.col("__toks")) >= 2,
        F.expr(
            "transform(sequence(1, size(__toks) - 1),"
            " i -> concat(element_at(__toks, i), ' ', element_at(__toks, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    counted = (
        with_toks.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return counted.orderBy(F.col("n").desc(), F.col("ngram").asc()).limit(k)


def tfidf_top_terms(df: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Per-document top-k terms by a tf-idf-style weight.

    weight = tf × (N+1)/(df+1): the inverse-document-frequency factor in
    RATIONAL form, not ln() — both engines then compute bit-identical IEEE
    doubles (libm log implementations may differ in the last ulp, which a
    1e-6 quantization boundary could amplify into a different top-k set).
    Rankings per document match classic tf·idf whenever tf ties don't
    cross df levels; ties break by term ascending.

    Scale shape: explode → (doc, term) count is one shuffle; document
    frequency is a count window PARTITIONED BY term over that same
    (doc, term)-grain aggregate (r11 — it used to be a groupBy + join
    back, and Catalyst recomputed the whole explode+aggregate on both
    join sides: 3 scans, 5 exchanges; the window computes it once — 2
    scans, 4 exchanges, no self-join. The per-term partition is the
    term's document frequency, bounded by corpus vocabulary spread, the
    same cardinality the old join shuffled); N is a broadcast scalar
    (its own count-only scan of the input — docs with zero terms still
    count); the per-doc top-k is a window over doc_id. All exchanges
    key-partitioned, no driver-side collection.
    """
    from pyspark.sql import Window

    terms = (
        df.select("doc_id", F.explode(_tokens(F.col(text_col))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    total = df.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        terms.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .crossJoin(F.broadcast(total))
        .withColumn(
            "score",
            F.col("tf") * (F.col("__n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", quantize6(F.col("score")).alias("score"), "rank")
    )


def remove_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    max_freq: int = 1,
) -> DataFrame:
    """Exact repeated-span removal — ExactSubstr dedup at word n-gram
    granularity (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): the third dedup granularity next to
    whole-document (dedup.exact_dedup) and near-dup (dedup.minhash_lsh_pairs).
    Every word position covered by an n-gram occurring more than
    ``max_freq`` times corpus-wide is dropped; surviving words reassemble
    in order. Output text is whitespace-normalized (lowercased,
    single-spaced) — the same normalization every other text operator here
    applies before hashing.

    Known caveat of the span family (shared with the suffix-array original):
    removing a span can create a NEW adjacent n-gram that never existed;
    one pass removes all PRE-EXISTING repeats, it is not a fixpoint.

    Scale shape: one shuffle on the 60-bit gram hash (frequency count +
    left-semi back-probe), one doc-keyed aggregate collecting each doc's
    covered positions into a SORTED ARRAY, then a doc-keyed join back to
    the token arrays where the rebuild is pure in-row array math
    (``array_except`` of the position range, ``element_at`` gather) —
    no per-word anti-join shuffle, no collect_list sort. An earlier
    formulation exploded every word through a (doc, pos) anti-join and
    re-sorted each group; moving the coverage set into one small array per
    doc (bounded by doc length) cut the sf0.1 time ~2× with byte-identical
    output.
    """
    from billing_etl_v1_spark.operators.dedup import _memo_persist_sig

    # the rebuild join and position gather key on the doc id; a NULL id
    # can't round-trip the join (NULL != NULL), so Spark would drop the
    # doc while the twin's grouping kept it — excluded on both engines
    toks = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("doc"), _tokens(F.col(text_col)).alias("__t")
    )
    # the hashed gram table feeds two consumers (frequency count + coverage
    # probe); without the memo-persist the explode+md5 lineage runs twice
    grams = _memo_persist_sig(
        toks.select(
            "doc", F.posexplode(_word_grams("__t", n)).alias("gpos", "gram")
        ).select("doc", "gpos", md5_long(F.col("gram")).alias("gh"))
    )
    hot = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__f"))
        .filter(F.col("__f") > max_freq)
        .select("gh")
    )
    covered = (
        grams.join(hot, "gh", "left_semi")
        .select(
            "doc",
            F.explode(F.sequence(F.col("gpos"), F.col("gpos") + (n - 1))).alias("pos"),
        )
        .groupBy("doc")
        .agg(F.array_sort(F.collect_set("pos")).alias("__drop"))
    )
    kept_pos = F.array_except(
        F.when(
            F.size("__t") > 0, F.sequence(F.lit(0), F.size("__t") - 1)
        ).otherwise(F.array().cast("array<int>")),
        F.coalesce(F.col("__drop"), F.array().cast("array<int>")),
    )
    rebuilt = toks.join(covered, "doc", "left").select(
        "doc", "__t", kept_pos.alias("__keep")
    )
    return rebuilt.select(
        F.col("doc").alias(id_col),
        F.array_join(
            F.transform(F.col("__keep"), lambda i: F.element_at(F.col("__t"), i + 1)),
            " ",
        ).alias("clean_text"),
        F.size("__t").cast("int").alias("n_tokens"),
        F.size("__keep").cast("int").alias("n_tokens_kept"),
    )


def corpus_dq_audit(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Data-quality audit over a documents corpus: one row per check with
    its violation count — the ingest-side gate that makes the corpus
    operators' data contracts CHECKABLE instead of assumed. The checks
    are exactly the poison classes the adversarial lanes found (NULL/
    duplicate keys, NULL/empty text) plus the whitespace-only degenerate:

    - ``duplicate_doc_id_rows``: rows beyond the first per non-NULL id.
      Per-document POSITIONAL operators (chunking, winnowing, BPE token
      sequences) window on (doc_id, position); duplicate ids make those
      positions collide as order TIES, so their output order within a
      tie is engine-dependent — run exact dedup (or this gate) first.
    - ``null_doc_id_rows`` / ``null_text_rows``: the r5 corpus-killer
      lanes (a NULL-text family formed one giant false-duplicate cluster;
      NULL ids shift ranks differently per engine).
    - ``empty_text_rows`` / ``whitespace_only_rows``: zero-signal docs
      that inflate doc counts and gate thresholds.

    One pass: conditional sums + one distinct-count in a single
    aggregate, melted to the same (check, violations) shape as the
    billing ``dq_audit`` via ``stack()`` over the 1-row total — ONE
    consumer of the aggregate. The r10 form melted via 4 chained
    ``unionAll`` of the same 1-row aggregate; Catalyst shares no
    subtrees across union branches, so the corpus was scanned 5× (the
    dq-audit trap the r10 VERDICT flagged); the stack() form scans it
    once (pinned by tests/test_scale_posture.py)."""
    counts = df.agg(
        F.sum(F.col("doc_id").isNull().cast("bigint")).alias("null_doc_id_rows"),
        (
            F.sum(F.col("doc_id").isNotNull().cast("bigint"))
            - F.countDistinct("doc_id")
        ).alias("duplicate_doc_id_rows"),
        F.sum(F.col(text_col).isNull().cast("bigint")).alias("null_text_rows"),
        F.sum((F.col(text_col) == "").cast("bigint")).alias("empty_text_rows"),
        F.sum(
            (
                (F.col(text_col) != "")
                & F.regexp_replace(F.col(text_col), WS_RE, "").eqNullSafe("")
            ).cast("bigint")
        ).alias("whitespace_only_rows"),
    )
    checks = [
        "null_doc_id_rows",
        "duplicate_doc_id_rows",
        "null_text_rows",
        "empty_text_rows",
        "whitespace_only_rows",
    ]
    # typed F.stack with F.lit labels (ADVICE r11): no SQL-string
    # interpolation surface
    fixed = counts.select(
        *[F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c) for c in checks]
    )
    args = [c for name in checks for c in (F.lit(name), F.col(name))]
    return fixed.select(
        F.stack(F.lit(len(checks)), *args).alias("check", "violations")
    )


def quality_percentiles(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Rank-normalized document quality: every doc's exact global rank and
    percentile bucket (1-100) over the (quality_score, doc_id) total
    order. Absolute quality scores drift with corpus mix; percentile
    position is what curriculum schedulers and "keep the top X%" gates
    actually consume.

    Reuses :func:`events.distributed_total_rank` — the two-phase
    range-partitioned ranking (parallel local sorts + broadcast prefix
    join) that replaced the unpartitioned-window deciles — proving the
    machinery is generic: NO single-task global sort here either. The
    bucket is pure integer arithmetic off (rank, n), so the oracle's
    plain-window formulation is value-identical.
    """
    from billing_etl_v1_spark.operators.events import distributed_total_rank

    # doc_id is the rank tiebreaker: NULL ids sort FIRST on Spark and LAST
    # on DuckDB, so an identity-less doc would shift every rank after it
    # differently per engine — excluded as corrupt (twin mirrors)
    scored = text_stats(df.filter(F.col("doc_id").isNotNull()), text_col).select(
        "doc_id", "quality_score"
    )
    ranked = distributed_total_rank(scored, ["quality_score", "doc_id"])
    return ranked.select(
        "doc_id",
        "quality_score",
        F.col("__rank").alias("rank"),
        # integer DIV keeps the bucket exact at any n (no double floor)
        F.expr("CAST((__rank - 1) * 100 div __total + 1 AS INT)").alias("percentile"),
    )


def vocabulary_coverage(
    df: DataFrame, text_col: str = "text", min_freq: int = 1
) -> DataFrame:
    """Corpus vocabulary with coverage curve: every distinct token's
    frequency, global frequency rank, and the cumulative fraction of all
    token occurrences the vocabulary up to that rank covers — the
    statistic BPE/unigram tokenizer training reads first ("how many types
    cover 99% of the corpus" sets the vocab size).

    Rank AND cumulative frequency come from ONE pass of the two-phase
    distributed rank (``events.distributed_total_rank`` with its prefix-sum
    extension) over the (-freq, token) total order — exact integers, no
    unpartitioned window, no second sort. The coverage fraction is a
    single division of exact BIGINTs (quantized).
    """
    from billing_etl_v1_spark.operators.events import distributed_total_rank

    counts = (
        df.select(F.explode(_tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .filter(F.col("freq") >= min_freq)
        .withColumn("__negfreq", -F.col("freq"))
    )
    ranked = distributed_total_rank(
        counts,
        ["__negfreq", "token"],
        rank_col="rank",
        sum_col="freq",
    )
    return ranked.select(
        "token",
        "freq",
        "rank",
        F.col("__cum").alias("cum_freq"),
        quantize6(F.col("__cum") / F.col("__sumtotal")).alias("cum_fraction"),
    )


def ccnet_buckets(df: DataFrame, text_col: str = "text") -> DataFrame:
    """CCNet's head/middle/tail partition, model-free: rank every document
    by corpus-frequency fluency (the perplexity proxy of
    :func:`bigram_fluency` — higher mean bigram frequency reads as lower
    perplexity) and cut the corpus into thirds. Head feeds training
    as-is, middle gets extra filtering, tail is typically dropped — the
    canonical quality partition of the CCNet pipeline (Wenzek et al.
    2020), here as one verified query.

    The global ordering uses the two-phase distributed rank (no
    single-task sort); the third-assignment is exact integer arithmetic
    off (rank, n).
    """
    from billing_etl_v1_spark.operators.events import distributed_total_rank

    scored = bigram_fluency(df, text_col).select(
        "doc_id", "lang", "source", "avg_bigram_freq"
    )
    ranked = distributed_total_rank(
        scored.withColumn("__negf", -F.col("avg_bigram_freq")),
        ["__negf", "doc_id"],
        rank_col="rank",
    )
    bucket = F.expr("CAST((rank - 1) * 3 div __total + 1 AS INT)")
    label = (
        F.when(bucket == 1, "head").when(bucket == 2, "middle").otherwise("tail")
    )
    return ranked.select(
        "doc_id",
        "lang",
        "source",
        "avg_bigram_freq",
        "rank",
        label.alias("bucket"),
    )


def lang_confusion(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Confusion matrix for the language-ID heuristic against the table's
    labeled ``lang`` column — "measure, don't guess" applied to the
    engine's own classifier: per (true, predicted) pair, the count and
    the row-share within the true language (exact counts, one division).
    The diagonal shares ARE the per-language recall; reading this before
    trusting lang-gates at 100 TB is the whole point.
    """
    pred = lang_id(df, text_col)
    counts = pred.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    totals = counts.groupBy("lang").agg(F.sum("n_docs").cast("bigint").alias("__t"))
    return counts.join(F.broadcast(totals), "lang").select(
        "lang",
        "lang_pred",
        "n_docs",
        quantize6(F.col("n_docs") / F.col("__t")).alias("share_of_true"),
    )
