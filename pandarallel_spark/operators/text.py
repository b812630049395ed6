"""Text-analysis operators for training-data pipelines (SURVEY.md §2.3).

All pure Column expressions — tokenization, counting, quality scoring,
language id, and fingerprinting run inside whole-stage codegen with no
Python workers. At 100 TB this is the difference between a scan-rate
pipeline and a UDF bottleneck.

Determinism: every numeric output derives from integer counts (token
counts, character counts) combined with a fixed IEEE expression tree, so
the DuckDB oracle reproduces values bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pandarallel_spark.session import _patch_worker_zipimport

# Small, fixed marker-token profiles per language. A real language-id
# model would be a character-n-gram classifier; the engine-level contract
# (deterministic, expression-only, argmax over per-language scores) is
# identical, so swapping in bigger profiles is a data change, not a code
# change.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "fast", "slow"),
    "fr": ("le", "la", "et", "de", "vite"),
    "de": ("der", "die", "und", "von", "schnell"),
    "es": ("el", "la", "y", "de", "rapido"),
}

DEFAULT_STOPWORDS: tuple[str, ...] = ("the", "a", "and", "of", "to", "in")


def tokens(col: Column | str) -> Column:
    """Lowercased whitespace tokens, empties removed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda t: t != F.lit(""))


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def _marker_count(toks: Column, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def language_id(col: Column | str, markers: dict[str, tuple[str, ...]] | None = None) -> Column:
    """Argmax of per-language marker-token counts; ties and all-zero →
    'und' (undetermined). Fixed evaluation order makes ties deterministic."""
    markers = markers or LANG_MARKERS
    toks = tokens(col)
    counts = {lang: _marker_count(toks, words) for lang, words in markers.items()}
    langs = list(counts)
    best = None
    for lang in langs:
        others = [counts[o] for o in langs if o != lang]
        cond = (counts[lang] > F.lit(0))
        for o in others:
            cond = cond & (counts[lang] > o)
        best = F.when(cond, F.lit(lang)) if best is None else best.when(cond, F.lit(lang))
    return best.otherwise(F.lit("und"))


def quality_features(col: Column | str, stopwords: tuple[str, ...] = DEFAULT_STOPWORDS) -> dict[str, Column]:
    """Integer-derived quality signals. Ratios are NULL on empty text."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(col)
    n_tokens = F.size(toks)
    n_chars = F.length(c)
    sum_token_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    )
    n_stop = _marker_count(toks, stopwords)
    denom = F.nullif(n_tokens.cast("bigint"), F.lit(0))
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_tokens": n_tokens.cast("bigint"),
        "avg_token_len": sum_token_len.cast("double") / denom,
        "stopword_ratio": n_stop.cast("double") / denom,
    }


def quality_score(col: Column | str, stopwords: tuple[str, ...] = DEFAULT_STOPWORDS) -> Column:
    """Deterministic [0,1] heuristic: enough tokens, not stopword soup,
    reasonable word lengths. Fixed expression tree → oracle-exact.
    Empty/whitespace-only text scores 0.0, never NULL — a NULL quality
    made ``quality >= cutoff`` and ``NOT (quality < cutoff)`` disagree
    on empty docs (review finding r4)."""
    f = quality_features(col, stopwords)
    length_part = F.least(F.lit(1.0), f["n_tokens"].cast("double") / F.lit(100.0))
    stop_part = F.lit(1.0) - f["stopword_ratio"]
    wordlen_part = F.least(F.lit(1.0), f["avg_token_len"] / F.lit(8.0))
    return F.coalesce(
        length_part * F.lit(0.5) + stop_part * F.lit(0.3) + wordlen_part * F.lit(0.2),
        F.lit(0.0),
    )


def fingerprint(col: Column | str) -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted distinct
    token set — the classic "bag of words" canonical form. Documents that
    permute the same vocabulary collide (by design).
    """
    return F.md5(
        F.array_join(F.array_sort(F.array_distinct(tokens(col))), " ")
    )


def with_text_stats(
    df: DataFrame, text_col: str, stopwords: tuple[str, ...] = DEFAULT_STOPWORDS
) -> DataFrame:
    """Attach the full text-analysis column set in one projection."""
    feats = quality_features(text_col, stopwords)
    return df.select(
        "*",
        feats["n_tokens"].alias("n_tokens"),
        feats["avg_token_len"].alias("avg_token_len"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        quality_score(text_col, stopwords).alias("quality"),
        language_id(text_col).alias("lang_pred"),
        fingerprint(text_col).alias("fingerprint"),
    )


# GPT-2-style pretokenizer, constrained to the regex subset shared by
# Java (Spark) and RE2 (DuckDB): contraction suffixes, letter runs,
# digit runs, non-space-symbol runs. No lookahead (RE2 lacks it), no
# capturing groups. Verified to tokenize identically in both engines.
BPE_PATTERN = r"'(?:ll|ve|re|[sdmt])|\p{L}+|\p{N}+|[^\s\p{L}\p{N}]+"


def bpe_tokens(col: Column | str) -> Column:
    """BPE-ish pretokens (the unit an LLM tokenizer would split further).
    Pure Column expression — regex runs inside codegen."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(BPE_PATTERN), 0)


def bpe_token_count(col: Column | str) -> Column:
    return F.size(bpe_tokens(col))


def _word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Word n-grams WITH duplicates (the multiset) — the repetition
    signals need total vs distinct counts, unlike dedup's distinct
    shingle sets."""
    toks = tokens(col)
    size = F.size(toks)
    idx = F.when(size >= n, F.sequence(F.lit(0), size - F.lit(n))).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + F.lit(j) + 1).cast("int")) for j in range(n)]
        ),
    )


def repetition_signals(col: Column | str, n: int = 3) -> dict[str, Column]:
    """Gopher-style internal-repetition quality signals (Rae et al. '21
    repetition filters), as pure Column expressions:

    - ``n_lines`` / ``dup_line_frac`` — duplicate newline-delimited
      lines over total lines;
    - ``n_ngrams`` / ``dup_ngram_frac`` — duplicate word ``n``-grams
      over the doc's n-gram multiset.

    Fractions are one exact-int division each (deterministic IEEE →
    DuckDB-oracle-able); empty docs yield 0.0. Boilerplate-heavy and
    looping documents score high — the standard pretraining drop rule.
    """
    c = F.col(col) if isinstance(col, str) else col
    lines = F.filter(F.split(c, "\n"), lambda x: F.trim(x) != F.lit(""))
    n_lines = F.size(lines)
    dup_lines = n_lines - F.size(F.array_distinct(lines))
    grams = _word_ngrams(c, n)
    n_grams = F.size(grams)
    dup_grams = n_grams - F.size(F.array_distinct(grams))
    frac = lambda dup, tot: F.when(  # noqa: E731
        tot > 0, dup.cast("double") / tot.cast("double")
    ).otherwise(F.lit(0.0))
    return {
        "n_lines": n_lines.cast("bigint"),
        "dup_line_frac": frac(dup_lines, n_lines),
        "n_ngrams": n_grams.cast("bigint"),
        "dup_ngram_frac": frac(dup_grams, n_grams),
    }


def bm25_scores(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    prune_nonmatching: bool = False,
) -> DataFrame:
    """BM25-style retrieval scoring of a fixed term set over the corpus,
    fully declarative (zero Python):

    - per-doc term frequencies: ``size(filter(tokens, = term))``;
    - corpus stats (N, avgdl) via one tiny aggregate, broadcast;
    - per-term document frequencies via one aggregate over the scan,
      broadcast;
    - score = Σ_t idf_t · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)).

    ``idf`` uses the rational Robertson form WITHOUT the logarithm —
    ``(N − df + 0.5)/(df + 0.5) + 1`` — because ``ln`` is not an IEEE
    correctly-rounded op and differs across engines' libms, which would
    break the bit-exact oracle contract; the transform is monotone, so
    rankings match log-BM25 for single-term queries and closely track it
    for short queries. The summation is an explicit fixed expression
    tree (not an aggregate), so both engines add in the same order.

    Scale shape: two tiny broadcast aggregates + a pure projection over
    the corpus scan; the only shuffle is whatever the caller adds (e.g.
    a top-k window). Output: (id, dl, tf_0.., score).

    ``prune_nonmatching`` (r15, guide §3 candidate pruning): drop
    documents sharing NO query term BEFORE the stats join and the
    caller's top-k. Exact for BM25-style ranking consumers — every
    per-term score is ≥ 0 and > 0 iff tf > 0 (idf is strictly
    positive in the Robertson form), so a pruned document's score is
    exactly 0.0 and can never enter a positive-score top-k; the filter
    is over the scan's own tf columns, so it applies in the scan stage
    and the join + ranking see candidates only. Off by default because
    it changes the OUTPUT CONTRACT from "every document scored" to
    "matching documents scored" — callers that keep zero-score rows
    must not enable it. The corpus statistics (N, avgdl, df) are
    computed over the FULL corpus either way. (The stats attach stays
    a 1-row broadcast crossJoin: a constant-keyed equi-join was tried
    and Catalyst constant-folds the key equality away, planning the
    same BroadcastNestedLoopJoin — which for a single-row build side
    IS the linear-optimal attach; the filter sits on its streamed
    side, so only candidates flow through it.)
    """
    if not terms:
        raise ValueError("bm25_scores requires at least one query term")
    toks = tokens(text_col)

    def _is_term(term):
        # PySpark introspects HOF lambda arity — a defaulted second
        # param would be bound to the element INDEX; bind via factory
        return lambda t: t == F.lit(term)

    base = corpus.select(
        F.col(id_col),
        F.size(toks).alias("__dl__"),
        *[
            F.size(F.filter(toks, _is_term(term))).alias(f"__tf{i}__")
            for i, term in enumerate(terms)
        ],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("__n__"),
        F.sum("__dl__").alias("__sumdl__"),
        *[
            F.sum((F.col(f"__tf{i}__") > 0).cast("long")).alias(f"__df{i}__")
            for i in range(len(terms))
        ],
    )
    if prune_nonmatching:
        matched = None
        for i in range(len(terms)):
            pred = F.col(f"__tf{i}__") > 0
            matched = pred if matched is None else (matched | pred)
        base = base.filter(matched)
    scored = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("__sumdl__").cast("double") / F.col("__n__").cast("double")
    norm = F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("__dl__").cast("double") / avgdl)
    score = None
    for i in range(len(terms)):
        tf = F.col(f"__tf{i}__").cast("double")
        df_ = F.col(f"__df{i}__").cast("double")
        idf = (F.col("__n__").cast("double") - df_ + F.lit(0.5)) / (df_ + F.lit(0.5)) + F.lit(1.0)
        term_score = idf * (tf * F.lit(k1 + 1.0)) / (tf + F.lit(k1) * norm)
        score = term_score if score is None else score + term_score
    return scored.select(
        id_col,
        F.col("__dl__").cast("bigint").alias("dl"),
        *[
            F.col(f"__tf{i}__").cast("bigint").alias(f"tf_{i}")
            for i in range(len(terms))
        ],
        score.alias("score"),
    )


# ---------------------------------------------------------------------------
# PII redaction (pretraining-hygiene pass)
# ---------------------------------------------------------------------------

# (category, pattern, replacement) applied IN ORDER. Patterns restrict
# to the regex subset Java (Spark) and RE2 (DuckDB/Go) evaluate
# identically: no lookaround, no backrefs, ASCII \d and \b only — so a
# SQL oracle reproduces the redaction bit-for-bit.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def redact_pii(col: Column | str) -> Column:
    """Replace emails / SSNs / phone numbers / IPv4s with typed tags —
    chained ``regexp_replace`` (JVM regex, zero Python; one projection,
    no shuffle — the 100 TB shape of a scrubbing pass). Order matters
    and is part of the contract: each pattern sees the previous
    pattern's output."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-category match counts, evaluated on the SAME chained inputs
    the redaction sees (category k counts matches in the text after
    categories 1..k-1 were redacted), so counts and replacements agree
    exactly."""
    c = F.col(col) if isinstance(col, str) else col
    out: dict[str, Column] = {}
    for name, pat, repl in PII_PATTERNS:
        out[f"n_{name}"] = F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
        c = F.regexp_replace(c, pat, repl)
    return out


# ---------------------------------------------------------------------------
# HTML → text extraction (web-corpus curation step zero)
# ---------------------------------------------------------------------------

# Ordered (pattern, replacement) chain — ONE definition shared by the
# Spark expression and the SQL-oracle mirror, the PII_PATTERNS
# discipline: patterns restrict to the Java∩RE2 subset (inline (?is)
# flags, non-greedy quantifiers, \b — no lookaround, which RE2 lacks),
# so both engines transform identically. Order is part of the contract:
HTML_STRIP_STEPS: tuple[tuple[str, str], ...] = (
    # script/style payloads vanish WITH their content (their text is
    # code, not prose — and it contains '<' that would corrupt the
    # generic tag strip below)
    (r"(?is)<script\b.*?</script>", " "),
    (r"(?is)<style\b.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),
    # block-level closers/breaks become newlines BEFORE the generic
    # strip so paragraph structure survives as line structure
    (r"(?i)<(?:br|/p|/div|/li|/tr|/h[1-6]|/ul|/ol|/table)\b[^>]*>", "\n"),
    (r"<[^>]*>", " "),
    # named entities decode AFTER tag stripping (entities are TEXT —
    # '&lt;b&gt;' must not become a strippable tag); &amp; decodes
    # LAST so '&amp;lt;' correctly yields '&lt;' and stops. Numeric
    # entities beyond &#39; are NOT decoded (a general &#NNN; decode
    # needs codepoint arithmetic no fixed regex chain can express —
    # they survive verbatim, visible rather than silently mangled).
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", '"'),
    (r"&#39;", "'"),
    (r"&apos;", "'"),
    (r"&nbsp;", " "),
    (r"&amp;", "&"),
    # whitespace canonicalization: blank runs → one space, newline runs
    # (with surrounding blanks) → one newline, then trim both ends.
    # Explicit classes, not \s: Java's \s includes \x0B where RE2's
    # does not — the one place the engines' shorthands diverge
    (r"[ \t\f\r]+", " "),
    (r" ?\n[ \n]*", "\n"),
    (r"^[ \t\n\f\r]+|[ \t\n\f\r]+$", ""),
)


def html_to_text(col: Column | str) -> Column:
    """Visible text of an HTML document — curation step ZERO for a web
    corpus (everything downstream: language id, quality, dedup,
    tokenization, expects prose, not markup). A chained
    ``regexp_replace`` expression — JVM regex, zero Python, one
    projection, no shuffle: at 100 TB this rides the scan like
    ``redact_pii``.

    Semantics (deliberately regular — a full HTML5 parser is not
    expressible as a scan projection and rarely needed for corpus
    work): script/style/comment content removed, block-level
    closers/``<br>`` become newlines, remaining tags become spaces,
    the common named entities decode (``&amp;`` last; numeric entities
    other than ``&#39;`` survive verbatim), whitespace canonicalizes
    to single spaces/newlines, ends trimmed. Pathological non-regular
    inputs (unclosed ``<script``, tags split across attribute quotes)
    degrade to extra stripped text, never to an error."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in HTML_STRIP_STEPS:
        c = F.regexp_replace(c, pat, repl)
    return c


def html_strip_sql(expr: str) -> str:
    """The DuckDB mirror of :func:`html_to_text` — the identical chain
    rendered as ``regexp_replace(..., 'g')`` calls, generated from the
    SAME ``HTML_STRIP_STEPS`` so the two can never drift. Newline
    replacements render as ``chr(10)``; quotes double per SQL."""
    out = expr
    for pat, repl in HTML_STRIP_STEPS:
        p = pat.replace("'", "''")
        if repl == "\n":
            r = "chr(10)"
        else:
            r = "'" + repl.replace("'", "''") + "'"
        pl = "'" + p.replace("\n", "' || chr(10) || '") + "'"
        out = f"regexp_replace({out}, {pl}, {r}, 'g')"
    return out


def html_text_ratio(col: Column | str) -> Column:
    """Visible-text fraction of an HTML document — the classic
    boilerplate/quality signal for web pages (markup-heavy chrome pages
    score low, article pages high). ``length(html_to_text(x)) /
    length(x)``, NULL on empty input."""
    c = F.col(col) if isinstance(col, str) else col
    return F.length(html_to_text(c)).cast("double") / F.nullif(
        F.length(c).cast("double"), F.lit(0.0)
    )


# ---------------------------------------------------------------------------
# corpus-frequency scoring (unigram-LM-ish quality signal)
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 128,
    stride: int | None = None,
) -> DataFrame:
    """Split each document's whitespace tokens into fixed-size windows —
    the standard pre-training chunking step (context-window packing's
    precursor). ``stride < chunk_tokens`` yields overlapping windows
    (e.g. 32/16 = 50% overlap); default stride = chunk_tokens (disjoint).

    Output: (id, chunk_idx, chunk_text, n_tokens) — one row per window
    start ``i·stride < n_tokens``; the final window truncates at the
    document end. Empty/whitespace-only documents produce no chunks.

    Pure JVM plan: tokenize once, explode a ``sequence`` of window
    indices, ``slice`` + rejoin — no Python, no shuffle, linear in
    output size. At 100 TB this is a flat-map over the scan.
    """
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    stride = stride or chunk_tokens
    if stride <= 0:
        raise ValueError(f"stride must be positive, got {stride}")
    toks = tokens(text_col)
    base = df.select(
        F.col(id_col), toks.alias("__toks__"), F.size(toks).alias("__n__")
    ).filter(F.col("__n__") > 0)
    n_chunks = F.ceil(F.col("__n__") / F.lit(float(stride))).cast("int")
    ci = F.col("__ci__")
    start = ci * stride  # 0-based
    length = F.least(F.lit(chunk_tokens), F.col("__n__") - start)
    return base.select(
        id_col,
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("__ci__"),
        "__toks__",
        "__n__",
    ).select(
        id_col,
        ci.cast("bigint").alias("chunk_idx"),
        F.concat_ws(
            " ", F.slice("__toks__", start + 1, length)
        ).alias("chunk_text"),
        length.cast("bigint").alias("n_tokens"),
    )


def token_docfreq(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(token, doc_freq) over the corpus: in how many documents does
    each token appear. One explode + distinct + count — all map-side
    partial except the distinct shuffle. The vocabulary table this
    yields is the substrate for df/idf-style scoring."""
    return (
        df.select(F.col(id_col).alias("__id__"), F.explode(tokens(text_col)).alias("__t__"))
        .distinct()
        .groupBy("__t__")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .select(F.col("__t__").alias("token"), "doc_freq")
    )


def with_mean_token_docfreq(
    df: DataFrame, id_col: str, text_col: str, docfreq: DataFrame | None = None
) -> DataFrame:
    """Attach ``mean_token_docfreq``: the mean corpus document-frequency
    of the document's token multiset — a cheap unigram quality signal
    (boilerplate/common-word documents score high, gibberish scores ~1).
    Exact integer sum ÷ count, one division at the end → oracle-exact.

    Scale shape: the docfreq table is vocabulary-sized (≪ corpus);
    Spark broadcasts it when small, hash-joins otherwise. Passing a
    precomputed ``docfreq`` (e.g. from a previous corpus pass) skips
    recomputation.
    """
    dfreq = docfreq if docfreq is not None else token_docfreq(df, id_col, text_col)
    toks = df.select(
        F.col(id_col).alias("__id__"), F.explode(tokens(text_col)).alias("token")
    )
    scored = (
        toks.join(dfreq, "token")
        .groupBy("__id__")
        .agg(
            (
                F.sum("doc_freq").cast("double") / F.count(F.lit(1))
            ).alias("mean_token_docfreq")
        )
    )
    return df.join(
        scored, df[id_col] == scored["__id__"], "left"
    ).select(*df.columns, "mean_token_docfreq")


def normalize_text_expr(
    col: Column | str,
    *,
    lower: bool = True,
    collapse_whitespace: bool = True,
    strip_controls: bool = True,
) -> Column:
    """Cheap text canonicalization as PURE JVM expressions — the
    normalization share a cleanup pipeline runs before fingerprinting /
    dedup: lowercase, strip C0/C1 control characters, collapse runs of
    whitespace to one space, trim. Stays inside whole-stage codegen;
    use ``normalize_text`` when Unicode NFC/NFKC folding or accent
    stripping is also needed (those have no JVM builtin)."""
    c = F.col(col) if isinstance(col, str) else col
    if strip_controls:
        c = F.regexp_replace(c, r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]", "")
    if lower:
        c = F.lower(c)
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return c


_MN_CLASS: str | None = None


def _mn_class() -> str:
    """Regex character class matching every Unicode Mn (nonspacing
    mark) codepoint, built once per process by scanning the codepoint
    space with ``unicodedata.category`` (~0.3 s, cached — runs on the
    executor the first time an accent-strip batch arrives). A regex of
    contiguous ranges applies at C speed per batch, unlike a per-char
    Python category check."""
    global _MN_CLASS
    if _MN_CLASS is None:
        import sys
        import unicodedata

        ranges: list[tuple[int, int]] = []
        start = prev = None
        for cp in range(sys.maxunicode + 1):
            if unicodedata.category(chr(cp)) == "Mn":
                if start is None:
                    start = cp
                prev = cp
            elif start is not None:
                ranges.append((start, prev))
                start = None
        if start is not None:
            ranges.append((start, prev))
        def esc(cp: int) -> str:
            return f"\\u{cp:04x}" if cp <= 0xFFFF else f"\\U{cp:08x}"

        cls = "".join(
            esc(a) if a == b else f"{esc(a)}-{esc(b)}" for a, b in ranges
        )
        _MN_CLASS = f"[{cls}]"
    return _MN_CLASS


def normalize_text(
    df: DataFrame,
    col: str,
    *,
    form: str | None = None,
    strip_accents: bool = False,
    lower: bool = True,
    collapse_whitespace: bool = True,
    strip_controls: bool = True,
    output_col: str | None = None,
) -> DataFrame:
    """Full Unicode canonicalization: everything
    ``normalize_text_expr`` does, plus optional NFC/NFKC/NFD/NFKD
    normalization (``form=``) and accent stripping (NFD → drop
    combining marks → NFC). The Unicode steps have no Spark builtin,
    so they run ONLY when requested, as ONE ``mapInPandas`` pass using
    pandas' vectorized ``str.normalize`` — Arrow-batched, never
    per-row Python through the serializer; with neither requested the
    whole thing stays a JVM projection (zero Python).

    NFKC + accent-strip + the expr steps is the canonical key for
    cross-encoding dedup: visually-identical strings that differ in
    composition (é vs e+◌́), width (ﬁ vs fi), or whitespace collapse
    to one fingerprint.
    """
    output_col = output_col or f"{col}_norm"
    expr = normalize_text_expr(
        col, lower=lower, collapse_whitespace=collapse_whitespace,
        strip_controls=strip_controls,
    )
    if form is None and not strip_accents:
        return df.withColumn(output_col, expr)
    if form is not None and form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"form must be NFC/NFKC/NFD/NFKD, got {form!r}")

    import pandas as pd  # noqa: F401  (executor-side)

    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", `{output_col}` string"
    staged = df.withColumn(output_col, expr)
    names = [f.name for f in df.schema.fields] + [output_col]

    def unicode_pass(batches):
        _patch_worker_zipimport()
        for pdf in batches:
            if pdf.empty:
                continue
            s = pdf[output_col].astype("string")
            if strip_accents:
                # NFD, drop ALL nonspacing combining marks (Unicode
                # category Mn — not just U+0300-036F: Cyrillic, Arabic,
                # Hebrew niqqud, and the Extended/Supplement blocks
                # must collapse too, review finding r7), recompose
                s = s.str.normalize("NFD").str.replace(
                    _mn_class(), "", regex=True
                ).str.normalize("NFC")
            if form is not None:
                s = s.str.normalize(form)
            out = pdf.copy()
            out[output_col] = s
            yield out[names]

    return staged.mapInPandas(unicode_pass, out_schema)
