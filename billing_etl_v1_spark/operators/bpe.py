"""Tokenizer-exact byte-pair encoding: distributed train + encode.

The existing ``text.bpe_token_count`` counts BPE *pre-tokens* (letter /
digit / symbol runs) — the split every BPE vocabulary starts from — but a
training-data pipeline eventually needs the real thing: learn the merge
table from the corpus and count the exact post-merge tokens each document
costs (sequence packing, token budgets, and price-per-token all consume
the tokenizer's number, not a proxy). This module implements the Sennrich
et al. 2016 algorithm (arXiv:1508.07909) Spark-first, in two modes:
``level='char'`` (Sennrich codepoint symbols, letter/digit/symbol-run
pre-tokens) and ``level='byte'`` (the GPT-2/tiktoken lineage — UTF-8
bytes as initial symbols, hex-pair strings, GPT-2-style pre-tokenizer
``BPE_BYTE_TOKEN_RE``); the merge machinery is level-blind:

- the ONLY corpus-sized passes are two embarrassingly-parallel aggregates
  (pre-token → word frequencies; per-doc word occurrence counts), both
  map-side combined — the standard wordcount shape that scales to 100 TB;
- the merge-learning loop never touches the corpus again: it iterates on
  the DISTINCT-WORD vocabulary table (bounded by Heaps' law — millions of
  rows when the corpus is terabytes), exactly how reference BPE trainers
  (subword-nmt, HuggingFace tokenizers) escape corpus-sized rounds;
- the vocabulary lives as (word, pos, sym) POSITION ROWS, not symbol
  arrays: per-position work over arbitrarily long words must explode to
  rows (the winnowing/minhash lesson — an interpreted ``F.aggregate``
  fold rebuilds its accumulator array per element, O(len²) per word;
  measured 59 s for two rounds on one 50k-char word before this
  formulation, linear after). Every window below is partitioned by word,
  and pre-tokens longer than ``max_word_len`` codepoints bypass the loop
  entirely (see :func:`bpe_learn`) — position rows carry their word
  string as the key, so an uncapped monster word still costs O(len²)
  bytes;
- each round is: adjacent-pair counts (a per-word lead() + sum, weighted
  by word frequency, overlapping positions counted — Sennrich's
  counting), a deterministic 1-row argmax (TakeOrdered — max count, ties
  broken by binary string order of (left, right), identical in Spark and
  DuckDB), and a positional run-parity merge apply (see below) — greedy
  left-to-right non-overlapping replacement, the Sennrich re-scan
  semantics;
- encoding never re-runs merges per occurrence: the trained vocabulary
  table IS word → tokens, so per-doc token counts are one equi-join of
  (doc, word, occurrences) against it — AQE broadcasts it when small.

Measured scaling (probe_r6.json bpe_train_scaling, local[32], median of
3 full trainings): growing the distinct vocabulary x10 / x64 (31 → 310 →
1,984 words, fixed 8-merge budget) moved training 4.00s → 4.41s → 5.55s
(2.0 → 1.44 rounds/s) — per-round cost at this scale is dominated by the
fixed job/localCheckpoint overhead (~0.5s/round), with the vocabulary-
table term still small at x64, consistent with the loop being bounded by
vocabulary rows, not corpus bytes. The driver-side loop
(:func:`bpe_learn_driver`, identical output) measured 2,000 merges in
1.15s on the same x64 vocabulary — ~1,700 merges/s including the
distributed corpus pass, the path for production merge budgets. A FULL
production-budget train is measured end-to-end in probe_r7.json
``bpe_train_32k``: 32,768 byte-level merges over a 41,236-word
vocabulary in 14.2s (~2,300 merges/s), artifact save 1.7s, and a
5,000-doc held-out ``bpe_encode`` in 0.5s — "32k merges" is seconds,
not extrapolated minutes. (Sizing note: merge TYPES scale with DISTINCT
WORDS — each round retires one pair across the whole vocabulary, and
this corpus exhausts at ~1.04 rounds/word — so sustaining a budget
needs a vocabulary comparably sized to it, which is why the probe
suffix-replicates to ~41k words.)

Run-parity merge apply (why per-position flags equal the sequential
greedy scan): a position matches when (sym, next) = (a, b); two ADJACENT
positions can only both match when a = b, so matches form runs, and the
greedy scan merges exactly the even offsets within each run — computable
as one row_number() grouping + min() parity per word, no sequential
state. A position is consumed iff its predecessor starts a merge
(lag(strt)). Property-tested against a naive sequential pure-Python BPE
in tests/test_extensions.py.

Cross-engine exactness: every value is an integer or a string (counts,
symbols), so the DuckDB oracle (oracle_ext.bpe_merges_sql /
bpe_token_counts_sql) unrolls the same rounds as chained CTEs — the
kmeans/pagerank playbook — and hash-matches bit-for-bit; it shares the
run-parity formulation (both engines need the linear shape), so the
independent correctness evidence is the sequential-reference property
test, not twin divergence.

Reference behavior anchored: the reference has no tokenizer (its
`calculate/` pipeline is billing-only); this extends SURVEY §7.2 step 8
(LLM-pipeline surface) where the round-4 VERDICT named "tokenizer-exact
BPE" the nearest real-user gap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from billing_etl_v1_spark.operators import _memo
from billing_etl_v1_spark.operators.text import BPE_TOKEN_RE, WS_RE

# GPT-2-style pre-tokenizer for the byte-level mode (Radford et al. 2019;
# the tiktoken-lineage shape): common English contractions split off, then
# optional-leading-space letter / digit / other runs, then whitespace runs.
# Differences from the verbatim GPT-2 pattern, both deliberate:
# - the trailing-whitespace lookahead (`\s+(?!\S)`) is dropped — DuckDB's
#   RE2 has no lookahead, and cross-engine exactness outranks matching
#   GPT-2's multi-space token boundaries bit-for-bit;
# - `\s` is expanded to the explicit class [ \t\n\f\r\x0B] (the WS_RE
#   lesson: Java's \s includes \x0B, RE2's does not). \p{L}/\p{N} are
#   Unicode general categories in BOTH Java and RE2; parity over CJK /
#   accents / emoji is exercised by tests/test_unicode_parity.py.
BPE_BYTE_TOKEN_RE = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?\p{L}+| ?\p{N}+"
    r"| ?[^ \t\n\f\r\x0B\p{L}\p{N}]+"
    r"|[ \t\n\f\r\x0B]+"
)

_LEVELS = ("char", "byte")


def _check_level(level: str) -> None:
    if level not in _LEVELS:
        raise ValueError(f"level must be one of {_LEVELS}, got {level!r}")


# (merges, vocab) per corpus plan and hyperparameters, so docs_bpe_merges /
# docs_bpe_tokens on the same corpus train once per session (see _memo)
_LEARN_CACHE: _memo.Registry = {}


def release_bpe_cache(spark=None) -> int:
    """Drop memoized training results (for ``spark`` only, or all
    sessions). The underlying localCheckpoint storage is freed by RDD GC
    once the frames are unreachable."""
    return _memo.release(_LEARN_CACHE, spark)


def _pretokens(col: Column, level: str = "char") -> Column:
    _check_level(level)
    pat = BPE_TOKEN_RE if level == "char" else BPE_BYTE_TOKEN_RE
    return F.regexp_extract_all(col, F.lit(pat), 0)


def _symbols(col: Column, level: str) -> Column:
    """Initial symbol array for one pre-token: one element per CODEPOINT
    (char mode) or one uppercase hex pair per UTF-8 BYTE (byte mode —
    merged symbols are concatenated hex pairs, so every symbol stays a
    plain string the merge machinery and the DuckDB twin compare
    identically: hex text is ASCII, and both engines order strings by
    UTF-8 bytes)."""
    _check_level(level)
    if level == "char":
        # split-by-empty-pattern yields one element per codepoint in both
        # engines (surrogate pairs stay whole; exercised against DuckDB's
        # regexp_extract_all(word, '.') in tests/test_unicode_parity.py)
        return F.split(col, "")
    # hex() is uppercase in both Spark and DuckDB (hex(encode(word)))
    return F.regexp_extract_all(F.hex(F.encode(col, "UTF-8")), F.lit(".."), 0)


def _vocab_word_stream(df: DataFrame, text_col: str, level: str) -> DataFrame:
    """Exploded pre-token stream for VOCABULARY aggregates — multiset
    semantics only (positions irrelevant), which unlocks a JVM regex
    optimization :func:`_pretokens` (position-sensitive) cannot take: the
    char pattern gains a whitespace-RUN alternative that is filtered back
    out after the explode. Java's matcher pays a full 3-alternative
    fail-scan at EVERY whitespace position of the plain 3-alt char
    pattern (the byte pattern never fails — it consumes whitespace inside
    its own alternatives), measured ~15x slower than byte level on the
    same 1.5 GB corpus (r9); letting the matcher consume whitespace as a
    disjoint alternative and dropping those rows afterwards returns the
    IDENTICAL token multiset ~10x faster (0.61 s vs 4–26 s per probe
    corpus pass). Alternative order matters: whitespace second (letters
    dominate real text, whitespace is next — each position should match
    as early as possible). Byte level already has this shape."""
    if level != "char":
        return df.select(
            F.explode(_pretokens(F.col(text_col), level)).alias("word")
        )
    # WS_RE is disjoint from all three BPE_TOKEN_RE alternatives, so the
    # non-whitespace matches (and their order) are exactly _pretokens'.
    # DERIVED from the shared constant (not restated) so an edit to
    # BPE_TOKEN_RE cannot desynchronize this corpus pass from _pretokens
    # (ADVICE r9): splice WS_RE in after the first alternative. Valid as
    # long as BPE_TOKEN_RE's top-level alternatives contain no literal
    # '|' (they are single character-class atoms).
    _first, *_rest = BPE_TOKEN_RE.split("|")
    fast = "|".join([_first, WS_RE, *_rest])
    return df.select(
        F.explode(F.regexp_extract_all(F.col(text_col), F.lit(fast), 0)).alias(
            "word"
        )
    ).filter(~F.col("word").rlike(r"^[ \t\n\f\r\x0B]"))


def word_vocab(df: DataFrame, text_col: str = "text", level: str = "char") -> DataFrame:
    """Distinct pre-token vocabulary with corpus occurrence frequencies and
    the initial symbol arrays (:func:`_symbols`). The single corpus-sized
    pass of training: explode + groupBy(word) map-side combines, and every
    later round runs on this bounded table."""
    return (
        _vocab_word_stream(df, text_col, level)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("s", _symbols(F.col("word"), level))
    )


def _by_pos() -> Window:
    # built per call: WindowSpec construction needs a live SparkContext,
    # and this module must import before any session exists (driver /
    # strict_check import order)
    return Window.partitionBy("word").orderBy("pos")


def _with_nxt(pos: DataFrame) -> DataFrame:
    """Position rows with the successor symbol (``nxt = lead(sym)`` within
    the word) attached. The trainer loops checkpoint THIS shape (r12): the
    successor is computed once in the same word-partitioned window pass
    that built the rows, so per-round pair counting becomes a plain
    map-side-combined aggregate over the checkpoint — no per-round window
    sort + word-hash exchange just to look one position ahead."""
    if "nxt" in pos.columns:
        return pos
    return pos.withColumn("nxt", F.lead("sym").over(_by_pos()))


def _pair_counts(pos: DataFrame) -> DataFrame:
    """Adjacent-pair counts over ``nxt``-carrying position rows: highest
    summed word frequency (overlapping positions each count — 'aaa' holds
    (a,a) twice), sorted by count desc then binary string order of (a, b)
    — deterministic and identical in DuckDB (both engines compare strings
    as UTF-8 bytes). No window: ``nxt`` is read off the checkpoint."""
    return (
        _with_nxt(pos)
        .filter(F.col("nxt").isNotNull())
        .groupBy(F.col("sym").alias("a"), F.col("nxt").alias("b"))
        .agg(F.sum("freq").alias("pair_count"))
    )


def _best_pair(pos: DataFrame) -> DataFrame:
    """The 1-row argmax over adjacent-pair counts (see :func:`_pair_counts`
    for the ordering contract). TakeOrdered, not a global window."""
    return _pair_counts(pos).orderBy(
        F.col("pair_count").desc(), F.col("a").asc(), F.col("b").asc()
    ).limit(1)


def _apply_merge(
    pos: DataFrame, best: DataFrame, merged_col: Column | None = None
) -> DataFrame:
    """One merge round over position rows: greedy left-to-right
    non-overlapping replacement of each (a, b) in ``best`` via the
    run-parity flags (see module docstring). Start positions take the
    merged symbol; consumed positions (predecessor started a merge) drop.

    ``best`` may hold SEVERAL pairs when the caller has proven them safe
    to apply simultaneously (the r12 batching rules — see
    :func:`bpe_learn`'s prefix-disjoint selection and
    :func:`encode_words`' rank-batch condition; both guarantee the pairs
    are pairwise symbol-disjoint). Disjointness makes the multi-pair
    apply EXACTLY the sequential per-pair apply: a position matches at
    most one pair (the broadcast equi-join on (sym, nxt) is unique), two
    ADJACENT matches would need pair j's right symbol to equal pair i's
    left symbol — excluded — so every run of consecutive matches is a
    single pair's run and the parity logic is per-pair unchanged, and
    merging one pair can neither create nor destroy occurrences of
    another (no shared symbols → adjacencies of the other pair's symbols
    are untouched). An EMPTY ``best`` is a no-op round (gap ranks in a
    filtered stored merge table).

    ``merged_col``: expression over ``best``'s (a, b) producing the merged
    symbol — defaults to plain concatenation (BPE); the WordPiece trainer
    passes ``a || substring(b, 3)`` so the merged symbol keeps ``a``'s
    position-form and drops ``b``'s '##' continuation marker. The apply
    mechanics (match/run-parity/renumber) are symbol-blind.

    Surviving positions are RENUMBERED densely (0..k-1): the run-parity
    test is "offset within the run is even", which is only equal to
    ``(pos - run_start) % 2 == 0`` when adjacent symbols sit at adjacent
    pos values — after an earlier round's drops, sparse positions would
    mark every even-gap match a start ('aaaaaa' under (a,a) then (aa,aa)
    collapsed to ['aaaa'] instead of ['aaaa','aa'] before this renumber;
    regression-tested). The DuckDB twin re-derives dense positions each
    round by rebuilding the list, same invariant.

    Plan shape (r12, guide §2.4; committed evidence
    plans/r12/bpe_apply_round_{before,after}.txt): every window here
    partitions by word and orders by pos — run starts come from
    lag(mtch), the run start POSITION from a running
    ``last(ignorenulls)`` instead of the old ``min over (word, grp)`` /
    ``row_number over (word, mtch)`` pair. The old shape's three window
    keys shared one exchange (hash(word) already clusters (word, mtch))
    but each re-SORTED the position table — 5 Sorts per round; the new
    chain plans 4 Windows over ONE Sort (5→1 in the committed plans).
    Equivalence: a match row's most recent run-start at-or-before it IS
    its run's first position (runs are contiguous, later run rows have
    lag(mtch)=true), which is what the islands grouping's ``min(pos)``
    computed. The output carries ``nxt`` (successor symbol after
    renumbering) so the next round's pair counting reads the checkpoint
    without a window (:func:`_pair_counts` — its own plan went
    window+sort+exchange+aggregate → bare aggregate,
    plans/r12/bpe_pair_counts_{before,after}.txt).
    """
    bp = F.broadcast(
        best.select(
            F.col("a").alias("bp_a"),
            F.col("b").alias("bp_b"),
            (
                merged_col if merged_col is not None else F.concat("a", "b")
            ).alias("bp_m"),
        )
    )
    pos = _with_nxt(pos)
    w = _by_pos()
    cum = (
        Window.partitionBy("word")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    kept = (
        pos.join(
            bp,
            (F.col("sym") == F.col("bp_a")) & (F.col("nxt") == F.col("bp_b")),
            "left",
        )
        .withColumn("mtch", F.col("bp_m").isNotNull())
        .withColumn(
            "rs", F.col("mtch") & ~F.coalesce(F.lag("mtch").over(w), F.lit(False))
        )
        .withColumn(
            "rstart",
            F.last(F.when(F.col("rs"), F.col("pos")), ignorenulls=True).over(cum),
        )
        .withColumn(
            "strt",
            F.col("mtch") & ((F.col("pos") - F.col("rstart")) % 2 == 0),
        )
        .withColumn(
            "consumed", F.coalesce(F.lag("strt").over(w), F.lit(False))
        )
        .filter(~F.col("consumed"))
        .select(
            "word",
            "freq",
            F.col("pos").alias("__oldpos"),
            F.when(F.col("strt"), F.col("bp_m")).otherwise(F.col("sym")).alias("sym"),
        )
    )
    wold = Window.partitionBy("word").orderBy("__oldpos")
    return kept.select(
        "word",
        "freq",
        (F.row_number().over(wold) - 1).alias("pos"),
        "sym",
        F.lead("sym").over(wold).alias("nxt"),
    )


def bpe_learn(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 8,
    max_word_len: int = 256,
    level: str = "char",
) -> tuple[DataFrame, DataFrame]:
    """Learn ``num_merges`` BPE merges from the corpus.

    Returns ``(merges, vocab)``: the ranked merge table
    (merge_rank, left_sym, right_sym, merged, pair_count) and the trained
    vocabulary (word, freq, tokens array<string>) with all merges applied
    — word → tokens is the complete encoder state.

    ``level``: ``'char'`` (Sennrich — codepoints as initial symbols,
    letter/digit/symbol-run pre-tokens) or ``'byte'`` (GPT-2 lineage —
    UTF-8 bytes as initial symbols, represented as uppercase hex pairs,
    under the GPT-2-style pre-tokenizer ``BPE_BYTE_TOKEN_RE``). The merge
    machinery below is level-blind: only the pre-token regex and the
    initial symbol split differ.

    ``max_word_len``: pre-tokens longer than this many SYMBOLS (codepoints
    in char mode, bytes in byte mode) bypass
    merging — they contribute nothing to pair counts and encode as one
    token per symbol. Every position row in the merge loop carries its
    word string as the window/join key, so a word's loop cost is
    O(len²) bytes; the cap bounds that at max_word_len² (64 KB at the
    default 256) per word. This is standard tokenizer practice
    (WordPiece's max_input_chars_per_word; GPT-2's pre-tokenizer rarely
    emits words over ~50 chars) — a 256+-codepoint unbroken pre-token is
    base64/DNA-grade garbage whose merges would be noise anyway.
    Measured before the cap: one 50k-char word cost 84 s and 500k
    exhausted an 8 GiB heap; with it, both are sub-second bypasses. The
    DuckDB twin and the sequential reference implement the same cap, so
    results stay bit-identical.

    .. warning:: EXECUTES EAGERLY at call time (the connected-components
       posture, dedup.py): each round localCheckpoint()s the vocabulary
       position table, truncating lineage so the plan stays O(1) deep
       instead of doubling per round — round i+1 reads vocabulary i
       twice (pair counts + merge apply), so a lazy formulation re-plans
       2^rounds copies of the corpus scan (measured: heap exhaustion at 8
       rounds). Cost: the corpus word-count pass once, then ONE
       vocabulary-sized job per round (r12 fusion — the argmax rides the
       apply job as a broadcast subquery; merge metadata is recovered in
       chunked union-collects) — at 100 TB the rounds touch only the
       distinct-word table. Training stops early when no pair remains
       (every word fully merged). Results are memoized per (session,
       corpus plan, num_merges, max_word_len); ``release_bpe_cache``
       drops them. For PRODUCTION merge budgets (32k–100k merges) use
       :func:`bpe_learn_driver` — identical output, the merge loop runs
       driver-side over the bounded vocabulary instead of paying ~2
       Spark jobs per merge.
    """
    if num_merges < 0:
        raise ValueError(f"num_merges must be >= 0, got {num_merges}")
    if max_word_len < 1:
        raise ValueError(f"max_word_len must be >= 1, got {max_word_len}")
    _check_level(level)
    base = word_vocab(df, text_col, level)
    return _memo.memoize(
        base,
        _LEARN_CACHE,
        (num_merges, max_word_len, level),
        lambda: _bpe_train(base, num_merges, max_word_len),
    )


def _bpe_train(
    base: DataFrame, num_merges: int, max_word_len: int
) -> tuple[DataFrame, DataFrame]:
    """:func:`bpe_learn`'s training run over the ``word_vocab`` table."""
    spark = base.sparkSession
    empty_merges = spark.createDataFrame(
        [],
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_count bigint",
    )
    # size(s), not length(word): codepoint count (length() counts UTF-16
    # units on the JVM — an emoji-bearing word would cap differently in
    # DuckDB, whose len() is codepoints)
    base = base.localCheckpoint()
    bypass = base.filter(F.size("s") > max_word_len)
    pos = _with_nxt(
        base.filter(F.size("s") <= max_word_len).select(
            "word", "freq", F.posexplode("s").alias("pos", "sym")
        )
    ).localCheckpoint()
    # r12 FUSED rounds (guide §5 — the loop's cost is job round-trips, not
    # data: the vocabulary tables are tiny next to the corpus and AQE
    # already coalesces their shuffles). One round = ONE action: the
    # 1-row argmax rides the apply job as a lazy broadcast subquery over
    # the same checkpointed position table, instead of being its own
    # localCheckpoint + isEmpty round-trip (2-3 actions/round before).
    # The merge TABLE and the exhaustion check are recovered afterwards in
    # CHUNKed union-collects: each pending round's checkpoint re-runs its
    # (deterministic) argmax as one branch of a single union job — a
    # vocabulary-bounded aggregate per branch, collected as tiny rows. A
    # chunk yielding fewer rows than rounds means the vocabulary exhausted
    # mid-chunk (an empty argmax broadcast makes the apply a no-op, and
    # every later round stays empty), so ranks are contiguous by
    # construction, exactly like the old per-round isEmpty break. CHUNK
    # bounds both the union plan width and how many checkpoints stay
    # referenced (pinned in block storage) at once.
    _CHUNK = 8
    merge_schema = (
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_count bigint"
    )
    merge_rows: list = []
    pending: list[DataFrame] = []  # pos checkpoints awaiting metadata recovery

    def _recover(base_rank: int) -> bool:
        """Collect pending rounds' merge metadata; True if exhausted."""
        parts = None
        for j, p in enumerate(pending):
            part = _best_pair(p).select(
                F.lit(base_rank + j).cast("int").alias("merge_rank"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                F.concat("a", "b").alias("merged"),
                F.col("pair_count"),
            )
            parts = part if parts is None else parts.unionAll(part)
        rows = sorted(parts.collect(), key=lambda r: r["merge_rank"])
        merge_rows.extend(tuple(r) for r in rows)
        return len(rows) < len(pending)

    exhausted = False
    for i in range(num_merges):
        best = _best_pair(pos)  # lazy — broadcast subquery of the apply job
        new_pos = _apply_merge(pos, best).localCheckpoint()
        pending.append(pos)
        pos = new_pos
        if len(pending) == _CHUNK:
            exhausted = _recover(i + 1 - len(pending))
            pending = []
            if exhausted:
                break
    if pending and not exhausted:
        _recover(num_merges - len(pending))
    merges = (
        spark.createDataFrame(merge_rows, merge_schema)
        if merge_rows
        else empty_merges
    )
    # reassemble token arrays from the surviving positions — one bounded
    # per-word collect (the kmeans centroid-array pattern), no fold
    vocab = pos.groupBy("word", "freq").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "sym"))),
            lambda t: t["sym"],
        ).alias("tokens")
    ).unionByName(
        bypass.select("word", "freq", F.col("s").alias("tokens"))
    )
    return merges, vocab


def bpe_learn_driver(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 8,
    max_word_len: int = 256,
    level: str = "char",
    max_vocab_rows: int = 5_000_000,
) -> tuple[DataFrame, DataFrame]:
    """:func:`bpe_learn` for PRODUCTION merge budgets (32k–100k merges) —
    same algorithm, same outputs (property-tested identical), different
    loop placement: the corpus-sized pass stays the distributed
    :func:`word_vocab` aggregate, but the merge loop runs driver-side
    over the collected (word, freq) table with incremental pair-count
    maintenance and a lazy max-heap — the subword-nmt architecture.

    Why it exists: the exact distributed loop costs ~2 Spark jobs per
    merge (~0.5 s/round measured, probe_r6 bpe_train_scaling), which is
    the right shape when the vocabulary can't fit anywhere, but a 50k-
    merge production budget would take ~7 hours of round-trips. Merge
    learning is CPU work over the BOUNDED vocabulary (Heaps' law:
    millions of distinct pre-tokens for terabytes of corpus), so the
    driver loop does ~thousands of merges per second once the corpus
    pass has paid for itself.

    The collect is the documented, GUARDED exception to the no-collect
    posture: it is vocabulary-bounded, never corpus-bounded, and
    ``max_vocab_rows`` fails loudly instead of OOMing the driver (memory
    ~ O(total symbols) for the pair index). For larger vocabularies,
    train on a corpus sample (standard tokenizer practice) or use the
    distributed loop.

    Determinism matches :func:`bpe_learn` exactly: overlapping pair
    counting, argmax ties broken by UTF-8 byte order of (left, right),
    greedy left-to-right non-overlapping apply, over-cap bypass.
    """
    import heapq
    from collections import Counter, defaultdict

    _check_level(level)
    if num_merges < 0:
        raise ValueError(f"num_merges must be >= 0, got {num_merges}")
    if max_word_len < 1:
        raise ValueError(f"max_word_len must be >= 1, got {max_word_len}")
    spark = df.sparkSession
    # ONE corpus pass: localCheckpoint materializes the bounded vocabulary
    # on the executors, so the guard count AND the collect below both read
    # the checkpoint instead of re-running the corpus aggregate (the r9
    # profile: guard + collect each re-ran a ~30 s corpus scan — the
    # recorded 214 merges/s was 92% corpus re-scans, 8% merge loop)
    vocab_df = word_vocab(df, text_col, level).select("word", "freq").localCheckpoint()
    # guard BEFORE the collect (r6 VERDICT): counting a LIMIT n+1 of the
    # bounded aggregate is cheap and raises before the driver ever
    # allocates an over-cap vocabulary — a guard placed after .collect()
    # would fire only after the OOM risk it promises to prevent
    if vocab_df.limit(max_vocab_rows + 1).count() > max_vocab_rows:
        raise ValueError(
            f"bpe_learn_driver: vocabulary has more than "
            f"max_vocab_rows={max_vocab_rows} distinct pre-tokens; train "
            f"on a corpus sample or use the distributed bpe_learn"
        )
    rows = vocab_df.collect()

    def _syms(w: str) -> list[str]:
        if level == "char":
            return list(w)
        return ["%02X" % b for b in w.encode("utf-8")]

    vocab: dict[str, list[str]] = {}
    freq: dict[str, int] = {}
    capped: set[str] = set()
    for r in rows:
        s = _syms(r["word"])
        vocab[r["word"]] = s
        freq[r["word"]] = r["freq"]
        if len(s) > max_word_len:
            capped.add(r["word"])

    pc: Counter = Counter()
    index: defaultdict[tuple[str, str], set[str]] = defaultdict(set)
    for w, s in vocab.items():
        if w in capped:
            continue
        f = freq[w]
        for i in range(len(s) - 1):
            p = (s[i], s[i + 1])
            pc[p] += f
            index[p].add(w)

    heap: list = []

    def push(p: tuple[str, str]) -> None:
        c = pc.get(p, 0)
        if c > 0:
            heapq.heappush(heap, (-c, p[0].encode(), p[1].encode(), p))

    for p in pc:
        push(p)

    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(num_merges):
        best = None
        while heap:
            negc, _ab, _bb, p = heapq.heappop(heap)
            if pc.get(p, 0) == -negc:  # skip stale lazy-heap entries
                best = (p, -negc)
                break
        if best is None:
            break  # fully merged before the budget ran out
        (a, b), cnt = best
        m = a + b
        merges.append((rank, a, b, m, cnt))
        # words listed under (a, b) may be stale (their symbols changed
        # since insertion); for those the subtract/apply/re-add below is
        # a no-op — correct, just wasted work
        affected = list(index.pop((a, b), ()))
        changed: set[tuple[str, str]] = {(a, b)}
        for w in affected:
            s = vocab[w]
            f = freq[w]
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                pc[p] -= f
                if pc[p] <= 0:
                    pc.pop(p, None)
                changed.add(p)
            out: list[str] = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(m)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            vocab[w] = out
            for i in range(len(out) - 1):
                p = (out[i], out[i + 1])
                pc[p] = pc.get(p, 0) + f
                index[p].add(w)
                changed.add(p)
        for p in changed:
            push(p)

    merges_df = spark.createDataFrame(
        merges,
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_count bigint",
    )
    vocab_df = spark.createDataFrame(
        [(w, freq[w], vocab[w]) for w in vocab],
        "word string, freq bigint, tokens array<string>",
    )
    return merges_df, vocab_df


def doc_token_counts(
    df: DataFrame,
    word_cost: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: str = "char",
) -> DataFrame:
    """Per-document (n_pretokens, n_bpe_tokens) given a complete
    word → n_tokens cost table: one (doc, word) occurrence aggregate plus
    one equi-join (AQE broadcasts the cost table when small; at terabyte
    vocabularies it stays a plain equi-join — never hardcode the
    broadcast). Documents with zero pre-tokens report 0/0 via the left
    join. Public building block: the streaming meter composes it with
    :func:`encode_words` to maintain its own incremental cost table."""
    occurrences = (
        df.select(
            F.col(id_col), F.explode(_pretokens(F.col(text_col), level)).alias("word")
        )
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    per_doc = (
        occurrences.join(word_cost, "word")
        .groupBy(id_col)
        .agg(
            F.sum("occ").alias("__pre"),
            F.sum(F.col("occ") * F.col("n_tokens")).alias("__bpe"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("__pre", F.lit(0)).cast("bigint").alias("n_pretokens"),
            F.coalesce("__bpe", F.lit(0)).cast("bigint").alias("n_bpe_tokens"),
        )
    )


def bpe_token_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_merges: int = 8,
    max_word_len: int = 256,
    level: str = "char",
) -> DataFrame:
    """Exact per-document BPE token counts under a vocabulary trained on
    the same corpus: doc_id, n_pretokens, n_bpe_tokens.

    The encode path never re-applies merges per occurrence — the trained
    vocabulary already maps word → token count, so the corpus-sized work
    is the shared :func:`doc_token_counts` aggregate + equi-join. Trains via
    :func:`bpe_learn` — see its EXECUTES-EAGERLY warning (memoized, so
    composing with docs_bpe_merges pays training once). To count NEW
    documents under this (or any) frozen vocabulary, use
    :func:`bpe_encode` instead of re-training on the union."""
    _, vocab = bpe_learn(df, text_col, num_merges, max_word_len, level)
    word_cost = vocab.select("word", F.size("tokens").alias("n_tokens"))
    return doc_token_counts(df, word_cost, text_col, id_col, level)


def bpe_token_ids(
    merges: DataFrame, vocab: DataFrame, level: str = "char"
) -> DataFrame:
    """The trained tokenizer's TOKEN-ID table: (token, token_id, source) —
    the artifact a training pipeline actually exports (embedding-matrix
    row i = token_id i; encoders map token strings to ids through it).

    The id convention is the GPT-2 lineage's: base symbols first, then
    merged tokens in learned-rank order —

    - ``byte``: ids 0..255 are the 256 possible byte values (hex-pair
      symbols '00'..'FF', FIXED regardless of what the corpus contained —
      serving must be able to id any future byte), then merge ``r``
      takes id ``256 + r``;
    - ``char``: the base alphabet is open-ended, so ids 0..n-1 are the
      corpus-OBSERVED initial codepoints in string order (both engines
      order strings by UTF-8 bytes — deterministic), then merge ``r``
      takes id ``n + r``.

    The base alphabet derives from re-splitting the vocabulary's WORDS
    (one vocabulary-bounded pass), NOT from the trained token arrays —
    a fully-merged symbol no longer appears as a single token there.
    Base ranks use the two-phase :func:`events.distributed_total_rank`
    (no unpartitioned ordered window — the repo-wide scale posture);
    the merge table joins in with a 1-row broadcast offset. No corpus
    pass anywhere.
    """
    from billing_etl_v1_spark.operators.events import distributed_total_rank

    _check_level(level)
    if level == "byte":
        base_ids = merges.sparkSession.range(256).select(
            F.upper(F.format_string("%02x", F.col("id"))).alias("token"),
            F.col("id").cast("int").alias("token_id"),
            F.lit("base").alias("source"),
        )
        merged_ids = merges.select(
            F.col("merged").alias("token"),
            (F.lit(256) + F.col("merge_rank")).cast("int").alias("token_id"),
            F.lit("merge").alias("source"),
        )
        return base_ids.unionByName(merged_ids)
    base = (
        vocab.select(F.explode(_symbols(F.col("word"), level)).alias("token"))
        .distinct()
    )
    ranked = distributed_total_rank(base, ["token"])
    base_ids = ranked.select(
        "token",
        (F.col("__rank") - 1).cast("int").alias("token_id"),
        F.lit("base").alias("source"),
    )
    # merge ids start after the observed base alphabet — the offset is the
    # rank pass's own grand total, joined as a 1-row broadcast (no
    # driver-side count)
    n = ranked.select(F.col("__total").cast("int").alias("__n")).limit(1)
    merged_ids = merges.crossJoin(F.broadcast(n)).select(
        F.col("merged").alias("token"),
        (F.col("__n") + F.col("merge_rank")).cast("int").alias("token_id"),
        F.lit("merge").alias("source"),
    )
    return base_ids.unionByName(merged_ids)


def bpe_token_sequences(
    df: DataFrame,
    vocab: DataFrame,
    token_ids: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: str = "char",
) -> DataFrame:
    """Per-document TOKEN-ID SEQUENCES — the model-input artifact itself:
    one row per token position, (doc_id, pos, token, token_id), ``pos``
    the 0-based position in the document's token stream.

    Corpus-sized work is one pre-token posexplode + two equi-joins
    (vocabulary word → tokens, then token → id; AQE broadcasts both when
    small). Positions come from a per-document WORD-level cumulative sum
    (base offset of each word = tokens before it) plus the within-word
    offset — the window input is words, not exploded tokens, so the
    per-doc sort touches ~10x fewer rows; the window is partitioned by
    doc (per-doc sequence numbering is inherently per-doc — same skew
    class as chunking, bounded by the longest single document).

    ``level='byte'`` is the production-safe mode: the fixed 256-byte base
    alphabet ids every possible future symbol. At char level a served
    NOVEL codepoint has no trained id — the inner token-id join drops it;
    use byte level when serving open vocabularies.

    Data contract: ``doc_id`` must be unique — duplicate ids make the
    per-document position window tie, and tie order is engine-dependent
    (text.corpus_dq_audit makes the contract checkable).
    """
    _check_level(level)
    wcost = vocab.select("word", "tokens", F.size("tokens").alias("__n"))
    wseq = (
        df.select(
            F.col(id_col),
            F.posexplode(_pretokens(F.col(text_col), level)).alias("wpos", "word"),
        )
        .join(wcost, "word")
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("wpos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sseq = (
        wseq.withColumn("__base", F.sum("__n").over(w) - F.col("__n"))
        .select(
            F.col(id_col),
            F.col("__base"),
            F.posexplode("tokens").alias("spos", "token"),
        )
        .select(
            F.col(id_col),
            (F.col("__base") + F.col("spos")).cast("bigint").alias("pos"),
            "token",
        )
    )
    # the id table is bounded by |base alphabet| + num_merges (a training
    # hyperparameter — NEVER corpus-scaled, unlike the word-cost table
    # doc_token_counts deliberately leaves to AQE), so broadcasting it is
    # structurally safe and removes what would otherwise be a shuffle of
    # the entire exploded token stream
    return sseq.join(
        F.broadcast(token_ids.select("token", "token_id")), "token"
    ).select(id_col, "pos", "token", "token_id")


def bpe_fertility(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    num_merges: int = 8,
    max_word_len: int = 256,
    level: str = "char",
) -> DataFrame:
    """Tokenizer FERTILITY metrics per ``group_col`` (typically language)
    — the standard tokenizer-evaluation table: tokens per pre-token and
    bytes per token tell you which languages a vocabulary over- or
    under-segments (high fertility = more tokens per word = worse
    compression = higher serving cost for that language).

    One corpus pass beyond training: the shared :func:`bpe_token_counts`
    occurrence aggregate plus a per-group sum. Ratios are quantized to
    the cross-engine 1e-6 grid and guarded against zero denominators
    (an all-NULL-text group has zero pre-tokens; ANSI division would
    kill the job)."""
    from billing_etl_v1_spark.functions import quantize6

    counts = bpe_token_counts(df, text_col, id_col, num_merges, max_word_len, level)
    joined = df.select(
        F.col(id_col),
        F.col(group_col),
        F.coalesce(F.octet_length(text_col), F.lit(0)).alias("__bytes"),
    ).join(counts, id_col)
    agg = joined.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__bytes").cast("bigint").alias("total_bytes"),
        F.sum("n_pretokens").cast("bigint").alias("total_pretokens"),
        F.sum("n_bpe_tokens").cast("bigint").alias("total_tokens"),
    )
    return agg.select(
        group_col,
        "n_docs",
        "total_bytes",
        "total_pretokens",
        "total_tokens",
        quantize6(
            F.when(
                F.col("total_pretokens") > 0,
                F.col("total_tokens") / F.col("total_pretokens"),
            )
        ).alias("tokens_per_pretoken"),
        quantize6(
            F.when(
                F.col("total_tokens") > 0,
                F.col("total_bytes") / F.col("total_tokens"),
            )
        ).alias("bytes_per_token"),
    )


def bpe_pack_blocks(
    seq: DataFrame, block_tokens: int, id_col: str = "doc_id"
) -> DataFrame:
    """Pack token-id sequences (:func:`bpe_token_sequences` rows) into
    fixed-size training blocks — the pretraining data-loader shape: a
    deterministic document order (doc_id, then position), concatenated
    and cut every ``block_tokens`` ids, documents crossing block
    boundaries (the standard GPT packing; no padding, the final partial
    block keeps its tail). Output: (block_id, offset, doc_id, token_id),
    ``offset`` the position inside the block.

    The global token position is one :func:`events.distributed_total_rank`
    over (doc_id, pos) — a range-repartitioned parallel sort plus a tiny
    prefix broadcast, never a single-task window; block assignment is then
    integer arithmetic (``div``/``%`` — exact on BIGINT in both engines,
    no float rounding at 100 TB token counts)."""
    from billing_etl_v1_spark.operators.events import distributed_total_rank

    if block_tokens < 1:
        raise ValueError(f"block_tokens must be >= 1, got {block_tokens}")
    ranked = distributed_total_rank(seq, [id_col, "pos"])
    return ranked.select(
        F.expr(f"CAST((__rank - 1) DIV {int(block_tokens)} AS BIGINT)").alias(
            "block_id"
        ),
        ((F.col("__rank") - 1) % block_tokens).cast("int").alias("offset"),
        F.col(id_col),
        "token_id",
    )


def save_bpe(
    merges: DataFrame,
    vocab: DataFrame,
    dir_path: str,
    max_word_len: int = 256,
    level: str = "char",
) -> None:
    """Persist a trained tokenizer (:func:`bpe_learn`'s outputs) as
    parquet tables under ``dir_path`` — the model-artifact round-trip a
    real pipeline needs: train once, serve from storage in later jobs
    (the in-process memo is per-session only). All tables are
    vocabulary-bounded, never corpus-sized.

    ``max_word_len`` / ``level`` must be the values training used:
    encode-time bypass behavior and the pre-tokenizer/symbol split are
    part of the tokenizer's definition, so both are stored IN the
    artifact (a 1-row ``meta`` table) and :func:`load_bpe` hands them
    back — serving under a silently different cap or level would
    tokenize novel words differently than training would have."""
    _check_level(level)
    merges.write.mode("overwrite").parquet(f"{dir_path}/merges")
    vocab.write.mode("overwrite").parquet(f"{dir_path}/vocab")
    meta = merges.sparkSession.createDataFrame(
        [(int(max_word_len), level)], "max_word_len int, level string"
    )
    meta.write.mode("overwrite").parquet(f"{dir_path}/meta")


def load_bpe(spark, dir_path: str) -> tuple[DataFrame, DataFrame, int, str]:
    """Load a tokenizer saved by :func:`save_bpe`: (merges, vocab,
    max_word_len, level). The frames are plain lazy parquet scans,
    directly usable by :func:`bpe_encode` — merge ranks are read back in
    rank order by the loop's per-rank filter, so ordering of the stored
    files is irrelevant; pass the returned cap and level to bpe_encode so
    serving matches training. Artifacts written before the ``level``
    column existed load as char-level (the only mode that existed)."""
    meta = spark.read.parquet(f"{dir_path}/meta").first().asDict()
    return (
        spark.read.parquet(f"{dir_path}/merges"),
        spark.read.parquet(f"{dir_path}/vocab"),
        int(meta["max_word_len"]),
        str(meta.get("level", "char")),
    )


def bpe_encode(
    df: DataFrame,
    merges: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_word_len: int,
    level: str = "char",
) -> DataFrame:
    """Exact BPE token counts for a NEW batch under a FROZEN trained
    vocabulary — the tokenizer SERVING path, and the incremental-ingest
    twin of :func:`bpe_token_counts` (the minhash_signatures /
    minhash_incremental_pairs pattern: train once, encode any batch, old
    text never re-read). Same output schema: doc_id, n_pretokens,
    n_bpe_tokens.

    ``merges`` / ``vocab`` are :func:`bpe_learn`'s outputs. Words already
    in the vocabulary resolve via one equi-join; only the batch's UNSEEN
    distinct words (left_anti against the vocabulary — bounded by the
    batch's novel vocabulary, not the corpus) re-run the merge loop, in
    learned rank order with the same run-parity apply the trainer used —
    so a training word routed through the unseen path reproduces its
    trained tokenization exactly (property-tested), and encode semantics
    are the Sennrich apply-each-merge-in-rank-order greedy scan.
    ``max_word_len`` / ``level`` must match training (REQUIRED — thread
    the values :func:`load_bpe` returns; a silently different default
    would tokenize over-cap unseen words differently than training, the
    exact mismatch the stored meta exists to prevent): over-cap unseen
    pre-tokens bypass to one token per symbol, like the trainer's lane.

    .. warning:: EXECUTES EAGERLY when the batch has unseen words (one
       localCheckpoint per learned merge over the unseen-word position
       rows — same lineage-truncation reasoning as :func:`bpe_learn`);
       an all-known batch short-circuits to the lazy join-only plan.
    """
    _check_level(level)
    known = vocab.select("word", F.size("tokens").alias("n_tokens"))
    unseen = (
        df.select(F.explode(_pretokens(F.col(text_col), level)).alias("word"))
        .distinct()
        .join(vocab.select("word"), "word", "left_anti")
        .localCheckpoint()
    )
    if unseen.isEmpty():
        return doc_token_counts(df, known, text_col, id_col, level)
    enc = encode_words(unseen, merges, max_word_len=max_word_len, level=level)
    word_cost = known.unionByName(
        enc.select("word", F.size("tokens").alias("n_tokens"))
    )
    return doc_token_counts(df, word_cost, text_col, id_col, level)


def encode_words(
    words: DataFrame, merges: DataFrame, *, max_word_len: int, level: str = "char"
) -> DataFrame:
    """word → tokens (array<string>) for words OUTSIDE the trained
    vocabulary, by applying the learned merges in rank order — the
    Sennrich encode loop, sharing the trainer's run-parity apply so a
    training word routed through here reproduces its trained tokenization
    exactly (property-tested). Over-cap words take the trainer's bypass
    lane (one token per symbol). Public building block: the streaming
    meter persists these results so a novel word is encoded once across
    all micro-batches, not once per batch.

    .. warning:: EXECUTES EAGERLY (one localCheckpoint per learned merge
       over the position rows — the :func:`bpe_learn` lineage reasoning);
       cost scales with the input's vocabulary, never a corpus."""
    if max_word_len < 1:
        raise ValueError(f"max_word_len must be >= 1, got {max_word_len}")
    _check_level(level)
    base = (
        words.select("word")
        .distinct()
        .withColumn("s", _symbols(F.col("word"), level))
        .localCheckpoint()
    )
    bypass = base.filter(F.size("s") > max_word_len).select(
        "word", F.col("s").alias("tokens")
    )
    # freq is a training-weight column _apply_merge carries through; it
    # does not affect which positions merge, so any constant works here
    pos = (
        base.filter(F.size("s") <= max_word_len)
        .select(
            "word",
            F.lit(1).cast("bigint").alias("freq"),
            F.posexplode("s").alias("pos", "sym"),
        )
        .localCheckpoint()
    )
    # The merge table is collected ONCE (bounded by the merge budget — a
    # training hyperparameter, 32k-100k rows of short strings, never
    # corpus-scaled; the same documented collect exception as
    # bpe_learn_driver) and applied in rank order. Rank GAPS in a filtered
    # stored table are naturally no-ops — later merges keep their rank
    # positions because application order follows the sorted rank list.
    #
    # r12 batching (guide §5 — checkpoint cadence): consecutive ranks are
    # applied in ONE _apply_merge pass while they stay pairwise disjoint —
    # no rank's left/right/merged string collides with an earlier batch
    # member's symbols or merged string. Under that condition simultaneous
    # application equals sequential rank order exactly: disjoint symbols
    # mean no merge can create, destroy, or chain into another's matches
    # (a new occurrence of (a_j, b_j) would need one of its symbols to BE
    # an earlier merge's output string — excluded). The first collision
    # flushes the batch, so worst case degenerates to one rank per round.
    mrows = merges.select("merge_rank", "left_sym", "right_sym").collect()
    mrows.sort(key=lambda r: r["merge_rank"])
    batches: list[list[tuple[str, str]]] = []
    used: set[str] = set()
    for r in mrows:
        a, b, m = r["left_sym"], r["right_sym"], r["left_sym"] + r["right_sym"]
        if not batches or a in used or b in used or m in used:
            batches.append([])
            used = set()
        batches[-1].append((a, b))
        used.update((a, b, m))
    spark = words.sparkSession
    for batch in batches:
        bp = spark.createDataFrame(batch, "a string, b string")
        pos = _apply_merge(pos, bp).localCheckpoint()
    encoded = pos.groupBy("word").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "sym"))),
            lambda t: t["sym"],
        ).alias("tokens")
    )
    return encoded.unionByName(bypass)
