"""Text analysis operators (SURVEY.md §2.12 E3): language ID, quality
scoring, token counting, document fingerprinting.

Everything is JVM-side column expressions (split / higher-order lambdas /
xxhash64); no Python UDFs in any hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny marker-token profiles for the n-gram/langid heuristic.  Real
# deployments swap in frequency tables; the *operator shape* (score per
# language via array-overlap, argmax) is what matters at scale.
DEFAULT_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "row", "data"),
    "es": ("el", "la", "de", "y", "fila"),
    "de": ("der", "die", "das", "und", "zeile"),
    "fr": ("le", "la", "de", "et", "ligne"),
    "zh": ("的", "是", "行"),
}


#: the exact character set of the regex class [a-zA-Z0-9 ] — the
#: translate() spelling of quality_score's punctuation ratio
_ALNUM_SPACE = (
    "abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "0123456789 "
)


def _overlap_count(tokens_expr: str, markers: tuple[str, ...]) -> str:
    arr = ", ".join("'" + m.replace("'", "''") + "'" for m in markers)
    return f"size(array_intersect({tokens_expr}, array({arr})))"


def language_id(
    df: DataFrame,
    text_col: str = "text",
    profiles: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """Append ``lang_pred`` + per-language marker-overlap scores.
    Argmax with deterministic tie-break on language code."""
    profiles = profiles or DEFAULT_PROFILES
    toks = f"split({text_col}, ' ')"
    scored = df.select(
        "*",
        *[
            F.expr(_overlap_count(toks, markers)).alias(f"score_{lang}")
            for lang, markers in profiles.items()
        ],
    )
    # argmax via array_max over (score, negated-ordinal) structs
    pairs = ", ".join(
        f"struct(score_{lang} AS s, '{lang}' AS l)" for lang in sorted(profiles)
    )
    return scored.withColumn(
        "lang_pred",
        F.expr(
            f"array_max(array({pairs})).l"
        ),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append length/punctuation/stopword-based quality features and a
    composite ``quality`` in [0,1]."""
    toks = f"split({text_col}, ' ')"
    stop = _overlap_count(toks, DEFAULT_PROFILES["en"])
    return df.select(
        "*",
        F.expr(f"length({text_col})").alias("q_chars"),
        F.expr(f"size({toks})").alias("q_tokens"),
        # translate, not regexp_replace('[a-zA-Z0-9 ]', ''): deleting a
        # fixed ASCII character set is a char-map lookup, no regex
        # engine — identical remaining-length for this exact class
        # (round 12)
        F.expr(
            f"CAST(length(translate({text_col}, "
            f"'{_ALNUM_SPACE}', '')) AS DOUBLE)"
            f" / greatest(length({text_col}), 1)"
        ).alias("q_punct_ratio"),
        F.expr(
            f"CAST({stop} AS DOUBLE) / greatest(size(array_distinct({toks})), 1)"
        ).alias("q_stopword_ratio"),
    ).withColumn(
        "quality",
        F.round(
            F.expr(
                "least(1.0, q_tokens / 64.0) * (1.0 - q_punct_ratio) * "
                "least(1.0, 0.5 + q_stopword_ratio)"
            ),
            6,
        ),
    )


def repetition_metrics(
    text_col: str = "text",
    ntoks_expr: str | None = None,
    ndt_expr: str | None = None,
) -> list[Column]:
    """Gopher-style intra-document repetition features as Column exprs:

    - ``n_distinct_trigrams`` — distinct token-3-gram count (0 when the
      doc has < 3 tokens);
    - ``dup_trigram_frac`` — 1 − distinct/total trigrams: the fraction
      of trigram positions occupied by a repeat.  High values flag
      boilerplate/looping text, one of the published repetition-removal
      signals (Gopher §A.1.2-style duplicate-n-gram filters).

    Pure single-scan column expressions (no shuffle, no UDF).  The
    trigram array is built with nested ``zip_with`` over three shifted
    slices — each slice evaluates the token split ONCE per document —
    instead of ``transform(sequence(...), i -> slice(split(...), i, 3))``,
    whose lambda would re-split the text per trigram position (O(T²)
    characters per doc, the trap dedup.shingle_rows documents).  The
    lambdas run interpreted, but per-element work is two concats —
    corpus-scale repetition filtering stays a cheap map-only pass.

    ``ntoks_expr`` / ``ndt_expr`` (round 12): names of PRE-PROJECTED
    columns holding ``size(split(text, ' '))`` and the CASE'd distinct-
    trigram count (the first returned column's exact expression).  Both
    outputs consume the trigram pipeline, and interpreted lambdas get
    no subexpression elimination, so without the pre-projection the
    zip_with chain + array_distinct evaluates TWICE per row.  Pass both
    or neither."""
    if (ntoks_expr is None) != (ndt_expr is None):
        raise ValueError("pass both ntoks_expr and ndt_expr, or neither")
    toks = f"split({text_col}, ' ')"
    tris = (
        f"zip_with("
        f"  zip_with(slice({toks}, 1, size({toks}) - 2),"
        f"           slice({toks}, 2, size({toks}) - 2),"
        f"           (x, y) -> concat(x, ' ', y)),"
        f"  slice({toks}, 3, size({toks}) - 2),"
        f"  (x, y) -> concat(x, ' ', y))"
    )
    ndt = ndt_expr or (
        f"CASE WHEN size({toks}) >= 3 THEN "
        f"CAST(size(array_distinct({tris})) AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END"
    )
    ntoks = ntoks_expr or f"size({toks})"
    return [
        F.expr(ndt).alias("n_distinct_trigrams"),
        F.expr(
            f"CASE WHEN {ntoks} >= 3 THEN "
            f"round(1.0 - CAST({ndt} AS DOUBLE) "
            f"/ ({ntoks} - 2), 6) ELSE 0.0 END"
        ).alias("dup_trigram_frac"),
    ]


def repetition_battery(
    text_expr: str = "text",
    words_expr: str | None = None,
    lines_expr: str | None = None,
) -> list[Column]:
    """The Gopher/MassiveText REPETITION filter battery (Rae et al.
    2021, Appendix A.1.2) as single-scan column expressions — the
    intra-document repetition signals beyond the duplicate-trigram
    fraction :func:`repetition_metrics` already ships:

    - ``r_dup_line_frac`` — fraction of lines that are repeats
      (1 − distinct/total);
    - ``r_dup_line_char_frac`` — fraction of line characters inside
      lines occurring ≥ 2 times (ALL occurrences count — a doc that is
      one line pasted 50× scores ≈ 1.0);
    - ``r_top2gram_char_frac`` / ``r_top3gram_char_frac`` — fraction
      of word characters covered by occurrences of the MOST FREQUENT
      word 2-/3-gram (count decides, ties break toward larger
      coverage; coverage = occurrences × gram chars, separators
      excluded, capped at 1.0 since overlapping occurrences re-count
      shared characters).

    The keep conjunction is a SEPARATE second-projection column
    (:func:`repetition_keep` over the four frac columns): inlining it
    into the same select would re-derive every sort+run pass a second
    time — Catalyst's CollapseProject deliberately refuses to merge
    projections when that would duplicate expensive expressions, so
    the two-stage form computes each signal exactly once.

    All JVM-side lambdas over per-doc arrays — map-only, no shuffle, no
    UDF.  The duplicate counting is SORT + one run-length pass per
    array (``array_sort`` is native; the ``aggregate`` lambda touches
    each element once), NOT a per-distinct-element filter: higher-order
    lambdas run interpreted, so an O(distinct × n) nested filter costs
    ~40× more wall-clock at corpus scale for identical values (measured
    at sf0.1: 63 s → 1.6 s for this battery).  Ratios round to 6
    places; the DuckDB twin brute-forces the same values (oracle SF is
    toy — the twin checks semantics, not the algorithm).

    ``words_expr`` / ``lines_expr``: pre-projected split-array column
    names — see :func:`gopher_rules` (same interpreted-lambda
    re-evaluation issue, same ~30% CPU saving when the caller projects
    the arrays once)."""
    t = f"({text_expr})"
    words = words_expr or f"filter(split({t}, ' '), w -> w != '')"
    lines = lines_expr or f"filter(split({t}, '\\n'), l -> l != '')"
    nl = f"size({lines})"
    wchars = f"aggregate({words}, 0L, (a, w) -> a + length(w))"
    lchars = f"aggregate({lines}, 0L, (a, l) -> a + length(l))"
    two = (
        f"zip_with(slice({words}, 1, size({words}) - 1),"
        f" slice({words}, 2, size({words}) - 1),"
        f" (x, y) -> concat(x, ' ', y))"
    )
    three = (
        f"zip_with(zip_with(slice({words}, 1, size({words}) - 2),"
        f" slice({words}, 2, size({words}) - 2),"
        f" (x, y) -> concat(x, ' ', y)),"
        f" slice({words}, 3, size({words}) - 2),"
        f" (x, y) -> concat(x, ' ', y))"
    )
    dup_line = (
        f"CASE WHEN {nl} > 0 THEN round(1.0 -"
        f" CAST(size(array_distinct({lines})) AS DOUBLE) / {nl}, 6)"
        f" ELSE 0.0 END"
    )
    # run-length pass over the SORTED lines: total chars inside lines
    # whose run count >= 2 (all occurrences count)
    dup_line_chars = (
        f"CASE WHEN {nl} > 0 THEN round(CAST("
        f"aggregate(array_sort({lines}),"
        f" named_struct('p', CAST(NULL AS STRING), 'r', 0L, 'd', 0L),"
        f" (a, x) -> CASE WHEN x = a.p THEN"
        f"   named_struct('p', x, 'r', a.r + 1L, 'd', a.d)"
        f"  ELSE named_struct('p', x, 'r', 1L, 'd', a.d +"
        f"   CASE WHEN a.r >= 2L THEN a.r * length(a.p) ELSE 0L END) END,"
        f" a -> a.d +"
        f"   CASE WHEN a.r >= 2L THEN a.r * length(a.p) ELSE 0L END)"
        f" AS DOUBLE) / greatest({lchars}, 1), 6) ELSE 0.0 END"
    )

    def top_frac(grams: str, minus: int, min_words: int) -> str:
        # run-length pass over the SORTED grams; the winner is the
        # MOST FREQUENT gram (count first, coverage tie-break), packed
        # as count*1e9 + coverage into one BIGINT so `greatest` orders
        # lexicographically (coverage < 1e9 at any realistic doc size)
        fin = (
            f"CASE WHEN a.p IS NULL THEN 0L"
            f" ELSE a.r * 1000000000L + a.r * (length(a.p) - {minus}) END"
        )
        best = (
            f"aggregate(array_sort({grams}),"
            f" named_struct('p', CAST(NULL AS STRING), 'r', 0L, 'b', 0L),"
            f" (a, x) -> CASE WHEN x = a.p THEN"
            f"   named_struct('p', x, 'r', a.r + 1L, 'b', a.b)"
            f"  ELSE named_struct('p', x, 'r', 1L,"
            f"   'b', greatest(a.b, {fin})) END,"
            f" a -> greatest(a.b, {fin}) % 1000000000L)"
        )
        return (
            f"CASE WHEN size({words}) >= {min_words} THEN round(least("
            f" 1.0, CAST({best} AS DOUBLE)"
            f" / greatest({wchars}, 1)), 6) ELSE 0.0 END"
        )

    top2 = top_frac(two, 1, 2)
    top3 = top_frac(three, 2, 3)
    return [
        F.expr(dup_line).alias("r_dup_line_frac"),
        F.expr(dup_line_chars).alias("r_dup_line_char_frac"),
        F.expr(top2).alias("r_top2gram_char_frac"),
        F.expr(top3).alias("r_top3gram_char_frac"),
    ]


def repetition_keep(
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_top2gram_char_frac: float = 0.20,
    max_top3gram_char_frac: float = 0.18,
) -> Column:
    """The Rae 2021 A.1.2 keep conjunction over the four
    :func:`repetition_battery` columns (apply via ``withColumn`` in a
    SECOND projection — see the battery docstring for why).  Paper
    thresholds by default, each a tunable kwarg."""
    return (
        (F.col("r_dup_line_frac") <= float(max_dup_line_frac))
        & (F.col("r_dup_line_char_frac") <= float(max_dup_line_char_frac))
        & (F.col("r_top2gram_char_frac") <= float(max_top2gram_char_frac))
        & (F.col("r_top3gram_char_frac") <= float(max_top3gram_char_frac))
    ).alias("repetition_keep")


GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_rules(
    text_expr: str = "text",
    words_expr: str | None = None,
    lines_expr: str | None = None,
) -> list[Column]:
    """The Gopher/MassiveText document-quality rule battery (Rae et al.
    2021, Appendix A.1.1) as single-scan column expressions — no
    shuffle, no UDF, applies to 100 TB as a projection:

    - ``g_n_words`` — whitespace words (empties dropped);
    - ``g_mean_word_len`` — mean characters per word;
    - ``g_symbol_ratio`` — ('#' + '...') occurrences per word;
    - ``g_bullet_frac`` / ``g_ellipsis_frac`` — fraction of lines
      starting with a bullet / ending with an ellipsis;
    - ``g_alpha_frac`` — fraction of words containing a letter;
    - ``g_stop_hits`` — distinct required stopwords present;
    The keep conjunction is a SEPARATE second-projection column
    (:func:`gopher_keep` over the seven feature columns) so each rule
    evaluates once — same CollapseProject reasoning as
    :func:`repetition_battery`.

    ``text_expr`` is a SQL expression (a column name or a computed
    string), so callers can run the battery over a derived text.
    Ratios round to 6 places (the repo's cross-engine double
    discipline); every regex is RE2-safe for the DuckDB twin.

    ``words_expr`` / ``lines_expr`` (round 12): names of PRE-PROJECTED
    array columns holding the word/line splits.  Higher-order-function
    lambdas are interpreted (no codegen, no subexpression elimination),
    so when the battery's seven columns each re-derive
    ``filter(split(text), …)`` the split+filter runs once PER COLUMN.
    A caller that projects the arrays once in a preceding ``withColumns``
    (CollapseProject keeps the stage split — the aliases are non-cheap
    and multiply referenced) cuts the battery's CPU ~30% (measured with
    :func:`repetition_battery` at sf0.1: 2.07 → 1.44 CPU-s for the
    pair).  Values are identical by construction.
    """
    t = f"({text_expr})"
    words = words_expr or f"filter(split({t}, ' '), w -> w != '')"
    nw = f"size({words})"
    lines = lines_expr or f"filter(split({t}, '\\n'), l -> l != '')"
    nl = f"size({lines})"
    stop_arr = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    n_words = f"CAST({nw} AS BIGINT)"
    mean_len = (
        f"round(CAST(aggregate({words}, 0L, (a, w) -> a + length(w)) "
        f"AS DOUBLE) / greatest({nw}, 1), 6)"
    )
    symbol_ratio = (
        f"round(CAST((length({t}) - length(replace({t}, '#', ''))) "
        f"+ (length({t}) - length(replace({t}, '...', ''))) / 3 "
        f"AS DOUBLE) / greatest({nw}, 1), 6)"
    )
    bullet = (
        f"round(CAST(size(filter({lines}, l -> "
        f"startswith(ltrim(l), '- ') OR startswith(ltrim(l), '* ') OR "
        f"startswith(ltrim(l), '•'))) AS DOUBLE) "
        f"/ greatest({nl}, 1), 6)"
    )
    ellipsis = (
        f"round(CAST(size(filter({lines}, l -> "
        f"endswith(rtrim(l), '...') OR endswith(rtrim(l), '…'))) "
        f"AS DOUBLE) / greatest({nl}, 1), 6)"
    )
    alpha = (
        f"round(CAST(size(filter({words}, w -> w rlike '[a-zA-Z]')) "
        f"AS DOUBLE) / greatest({nw}, 1), 6)"
    )
    stops = (
        f"CAST(size(array_intersect({words}, array({stop_arr}))) "
        f"AS BIGINT)"
    )
    return [
        F.expr(n_words).alias("g_n_words"),
        F.expr(mean_len).alias("g_mean_word_len"),
        F.expr(symbol_ratio).alias("g_symbol_ratio"),
        F.expr(bullet).alias("g_bullet_frac"),
        F.expr(ellipsis).alias("g_ellipsis_frac"),
        F.expr(alpha).alias("g_alpha_frac"),
        F.expr(stops).alias("g_stop_hits"),
    ]


def gopher_keep(
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> Column:
    """The Rae 2021 A.1.1 keep conjunction over the seven
    :func:`gopher_rules` columns (apply via ``withColumn`` in a SECOND
    projection).  Defaults are the paper's thresholds — every one a
    keyword arg, since production deployments tune them per corpus
    (the paper's table is tuned for MassiveText's crawl)."""
    return (
        F.col("g_n_words").between(int(min_words), int(max_words))
        & F.col("g_mean_word_len").between(
            float(min_mean_len), float(max_mean_len)
        )
        & (F.col("g_symbol_ratio") < float(max_symbol_ratio))
        & (F.col("g_bullet_frac") <= float(max_bullet_frac))
        & (F.col("g_ellipsis_frac") <= float(max_ellipsis_frac))
        & (F.col("g_alpha_frac") >= float(min_alpha_frac))
        & (F.col("g_stop_hits") >= int(min_stop_hits))
    ).alias("gopher_keep")


def dedup_segments(
    text_col: str = "text",
    sep: str = "\\. ",
    join: str = ". ",
    out_col: str = "text_deduped",
) -> Column:
    """Intra-document repetition removal: split the doc into segments
    (sentences by default), keep each segment's FIRST occurrence in
    order, and reassemble — the boilerplate/loop-removal step that runs
    after the inter-doc dedup passes.  ``array_distinct`` preserves
    first-occurrence order by contract, so this is one map-only column
    expression: no shuffle, no UDF, applies to 100 TB as a projection.
    (Built from column functions, not an F.expr string — the regex
    separator must not go through SQL string-literal escaping.)
    """
    return F.array_join(
        F.array_distinct(F.split(F.col(text_col), sep)), join
    ).alias(out_col)


def token_counts(
    df: DataFrame, text_col: str = "text", bpe_regex: str = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
) -> DataFrame:
    """Whitespace token count + a BPE-ish regex token count
    (letters / digit-runs / punctuation as separate tokens)."""
    return df.select(
        "*",
        F.expr(f"size(split({text_col}, ' '))").alias("ws_tokens"),
        # F.lit keeps the regex out of SQL string-literal escaping
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(bpe_regex), F.lit(0))
        ).alias("bpe_tokens"),
    )


def fingerprint(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    n_keep: int = 16,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """Winnowing-style document fingerprint: the ``n_keep`` smallest char
    k-gram hashes (deterministic, order-canonical).  Containment of
    fingerprint sets approximates document overlap.

    ``portable=True`` hashes grams with the engine-portable md5 hash
    (functions/porthash.py) instead of xxhash64 so a DuckDB oracle can
    recompute the identical fingerprint; production default stays on the
    cheaper xxhash64.  The portable hash is 52-bit (13 hex chars), not
    60: fingerprint values reach the oracle-compared OUTPUT in a
    null-bearing column, which pandas widens to float64 — only ≤2⁵³
    integers survive that exactly on both engines' result paths.

    Explode shape, not a transform lambda: ``explode(sequence)`` +
    ``substring``/hash stay inside whole-stage codegen, and partial
    aggregation shrinks each doc to ``n_keep`` hashes map-side.
    """
    from ..functions.porthash import md5_int_spark

    gram = f"substring(__t, __i, {k})"
    h_expr = (
        md5_int_spark(gram, seed, 13) if portable else f"xxhash64({gram}, {seed})"
    )
    pos = df.select(
        F.col(id_col),
        F.col(text_col).alias("__t"),
        F.explode(
            F.expr(f"sequence(1, greatest(length({text_col}) - {k} + 1, 1))")
        ).alias("__i"),
    )
    hashes = pos.select(id_col, F.expr(h_expr).alias("__h"))
    return hashes.groupBy(id_col).agg(
        F.expr(f"slice(array_sort(collect_list(__h)), 1, {n_keep})").alias(
            "fingerprint"
        )
    )


# ── PII redaction ────────────────────────────────────────────────────────

# Patterns deliberately favor precision over recall (a training corpus
# tolerates a missed phone number; mangling ordinary prose hurts) and
# run as JVM regexp_replace — map-only, no UDF.  Order matters: emails
# before phones (an email's digits must not be half-eaten), IPs before
# phones (dotted quads contain phone-length digit runs).
PII_PATTERNS: list[tuple[str, str, str]] = [
    (
        "email",
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "<EMAIL>",
    ),
    (
        "ipv4",
        r"\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\.){3}"
        r"(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\b",
        "<IP>",
    ),
    (
        "phone",
        r"(?<![0-9])(?:\+?[0-9]{1,3}[ .-]?)?(?:\([0-9]{3}\)[ .-]?|[0-9]{3}[ .-])"
        r"[0-9]{3}[ .-][0-9]{4}(?![0-9])",
        "<PHONE>",
    ),
]


def redact_pii(
    text_col: str = "text",
    out_col: str = "text_redacted",
    patterns: list[tuple[str, str, str]] | None = None,
) -> list[Column]:
    """[redacted text, n_redactions] — the corpus-hygiene scrub (C4/
    Dolma-style) as chained ``regexp_replace`` column expressions: one
    map-only projection, 100 TB-safe by construction.  The redaction
    count rides along so a quality gate can drop documents that are
    mostly PII.  Patterns are (name, regex, token) triples; pass a
    custom list to extend (the defaults favor precision — see
    PII_PATTERNS).
    """
    pats = PII_PATTERNS if patterns is None else patterns
    # count each pattern's matches on the PRE-replacement text of its
    # stage (counting tokens in the final text would miscount when the
    # source already contains a literal '<EMAIL>', and would need
    # token-escaping that breaks for custom tokens with regex
    # metacharacters)
    redacted = F.col(text_col)
    n = F.lit(0)
    for _, rx, token in pats:
        # coalesce: regexp_extract_all of NULL text is NULL, which would
        # poison n_redactions to NULL instead of 0 — a numeric quality
        # gate downstream would then treat NULL-text rows inconsistently
        # (regexp_count is no cheaper: it is RuntimeReplaceable sugar
        # for exactly this size(regexp_extract_all) — measured round 12)
        n = n + F.coalesce(
            F.size(F.regexp_extract_all(redacted, F.lit(rx), F.lit(0))),
            F.lit(0),
        )
        redacted = F.regexp_replace(redacted, F.lit(rx), F.lit(token))
    return [
        redacted.alias(out_col),
        n.cast("long").alias("n_redactions"),
    ]
