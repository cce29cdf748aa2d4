"""Text analysis for training-data pipelines: language-ID, quality scoring,
token counting, document fingerprinting. All pure Column expressions
(JVM-side, whole-stage codegen) — deliberately expressible in ANSI SQL so the
DuckDB oracle can verify every one of them value-for-value.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# fixed stopword-marker sets (drawn from published stopword lists) — the
# lang-id heuristic counts token-exact hits per language. Ten languages;
# still a marker heuristic, not fastText-class lang-ID (scope documented in
# lang_id's docstring). DICT ORDER IS THE TIE-BREAK PRIORITY; the DuckDB
# oracle CASE is GENERATED from this table (lang_case_sql) so the two sides
# cannot drift. Markers are chosen to avoid high-frequency cross-language
# collisions (e.g. 'de' is dominant in French AND the Dutch article — Dutch
# uses het/een/niet/ook/maar instead).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "und", "die", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "los", "las", "una", "está"],
    "it": ["il", "gli", "della", "che", "è"],
    "pt": ["os", "uma", "não", "são", "como"],
    "nl": ["het", "een", "niet", "ook", "maar"],
    "sv": ["och", "att", "det", "som", "för"],
    "pl": ["nie", "się", "jest", "oraz", "przez"],
    "tr": ["ve", "bir", "bu", "için", "ile"],
}

STOPWORDS_EN = (
    "the a an and or of to in is are was were be been it this that with as for "
    "on at by from not but"
).split()

# Script-range detection for the non-Latin web (round 5): a real crawl is
# full of zh/ja/ko/ru/ar/… pages that the Latin stopword markers can never
# label. Each entry maps a label to Unicode BMP ranges that are (near-)
# unambiguous for that label at the SCRIPT level. DICT ORDER IS THE
# TIE-BREAK PRIORITY and the DuckDB CASE is generated from this table
# (lang_case_sql), exactly like LANG_MARKERS. SCOPE, documented honestly:
# script identification is exact; the label is the script's dominant web
# language, so single-language scripts (el/he/th/ko + kana→ja) are true
# lang-ID while multi-language scripts are a prior (Cyrillic→ru not uk/bg,
# Arabic→ar not fa/ur, Devanagari→hi not mr/ne), and Han-only text labels
# zh (Japanese text virtually always carries kana — weighted KANA_WEIGHT×
# so kanji-heavy ja still wins — but a pure-kanji fragment reads zh).
LANG_SCRIPTS: dict[str, str] = {
    "zh": "一-鿿㐀-䶿",        # CJK Unified + Ext A
    "ja": "぀-ゟ゠-ヿ",        # hiragana + katakana
    "ko": "가-힣ᄀ-ᇿ",        # hangul syllables + jamo
    "ru": "Ѐ-ӿ",                      # Cyrillic
    "ar": "؀-ۿݐ-ݿ",        # Arabic + supplement
    "he": "֐-׿",                      # Hebrew
    "el": "Ͱ-Ͽ",                      # Greek
    "th": "฀-๿",                      # Thai
    "hi": "ऀ-ॿ",                      # Devanagari
}
KANA_WEIGHT = 10  # kana is uniquely Japanese; Han is shared with Chinese
_LATIN_CLASS = "A-Za-zÀ-ɏ"  # basic Latin letters + Latin-1/Ext-A/B


def _script_count(text: Column, ranges: str) -> Column:
    """Character count of ``text`` falling in the given Unicode ranges —
    length minus length-after-removal (counting via removal keeps the
    identical formulation available in ANSI SQL)."""
    return F.length(text) - F.length(
        F.regexp_replace(text, "[" + ranges + "]", "")
    )


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty string → empty array (not [''])."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def segment_cjk(text: Column) -> Column:
    """Space-delimit every CJK character (Han / kana / Hangul — the
    LANG_SCRIPTS zh/ja/ko ranges) so whitespace-tokenized operators work
    on space-free scripts: pass ``segment_cjk(text)`` anywhere a text
    column feeds tokens() — shingle dedup, decontamination, token-count
    gates — and Chinese/Japanese/Korean documents get character-level
    tokens (the classic zh baseline; CCNet-style pipelines do exactly
    this before n-gram work) while pure-Latin text passes through
    TOKEN-identical (the trim strips framing whitespace, so byte-level
    offsets do not survive — whitespace-tokenized consumers see identical
    tokens). Compositional by design: no dedup/curation operator needed a
    tokenizer parameter."""
    cjk = LANG_SCRIPTS["zh"] + LANG_SCRIPTS["ja"] + LANG_SCRIPTS["ko"]
    return F.trim(F.regexp_replace(text, "([" + cjk + "])", " $1 "))


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("int")


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish count: word pieces + digits + punctuation as separate
    tokens (a BPE-flavored regex segmentation, deterministic)."""
    pieces = F.regexp_extract_all(
        F.lower(text), F.lit(r"[a-z]{1,4}|[0-9]|[^a-z0-9\s]"), 0
    )
    return F.size(pieces).cast("int")


def _marker_hits(toks: Column, words: list[str]) -> Column:
    # token-exact hits (no overlap/consumption ambiguity — portable to SQL)
    return F.size(F.filter(toks, lambda t: t.isin(words)))


def lang_id(text: Column, toks: Column | None = None) -> Column:
    """Stopword-marker language ID over LANG_MARKERS (10 languages), 'und'
    for undetermined. Deterministic tie-break = LANG_MARKERS insertion order.

    SCOPE: a marker-count heuristic — cheap, exact-SQL-expressible, and
    reliable on clean running prose in the covered languages; it is NOT a
    fastText-class classifier (no character n-gram model, no coverage beyond
    the 10 marker sets, confusable on very short or code-mixed text).

    Implemented as a scores array + array_position(array_max) — first-argmax,
    provably equivalent to the earlier chained ``when`` cascade (the first
    index whose count ≥ every later count IS the first global argmax) but
    with one marker-hit expression per language instead of O(n²) duplicated
    subtrees (the repo's documented chained-when gotcha).

    Pass ``toks`` as a MATERIALIZED lowercase-token column on hot paths: the
    10 per-language filter() lambdas each re-evaluate a captured tokenizer
    EXPRESSION (no CSE in HOF lambdas — the repo's documented gotcha), i.e.
    10 regex tokenizations per row; an aliased column referenced 10 times
    survives CollapseProject and tokenizes once (measured −0.9 s on
    text_stats at sf0.1 when the marker table grew 5 → 10 languages).

    Round 5: a SCRIPT pre-gate covers the non-Latin web (LANG_SCRIPTS —
    zh/ja/ko/ru/ar/he/el/th/hi). When non-Latin script characters
    outnumber Latin letters, the label is the first-argmax script family
    (kana weighted KANA_WEIGHT× so kanji-heavy Japanese beats the shared
    Han count); otherwise the marker path decides as before, so
    Latin-script behavior is bit-identical to rounds 1-4."""
    toks = tokens(F.lower(text)) if toks is None else toks
    order = list(LANG_MARKERS)
    hits = F.array(*[_marker_hits(toks, LANG_MARKERS[lang]) for lang in order])
    langs = F.array(*[F.lit(lang) for lang in order])
    best = F.array_max(hits)
    idx = F.array_position(hits, best).cast("int")  # 1-based FIRST max
    marker = F.when(best > 0, F.element_at(langs, idx)).otherwise(F.lit("und"))

    # the GATE costs exactly two regex passes per row (one combined class
    # over the union of all script ranges + one Latin count); the nine
    # per-script counts live INSIDE the when() branch, which codegen
    # evaluates lazily per row — so the overwhelmingly-Latin web pays 2
    # extra passes, not 11 (measured: the 11-pass version added +170% to
    # prepare_training_compose at sf0.1)
    s_order = list(LANG_SCRIPTS)
    s_total = _script_count(text, "".join(LANG_SCRIPTS.values()))
    latin = _script_count(text, _LATIN_CLASS)
    raw = [_script_count(text, LANG_SCRIPTS[lang]) for lang in s_order]
    weighted = F.array(
        *[
            (c * KANA_WEIGHT if lang == "ja" else c)
            for lang, c in zip(s_order, raw)
        ]
    )
    s_langs = F.array(*[F.lit(lang) for lang in s_order])
    s_best = F.array_max(weighted)
    s_idx = F.array_position(weighted, s_best).cast("int")
    return F.when(
        s_total > latin, F.element_at(s_langs, s_idx)
    ).otherwise(marker)


def lang_case_sql(ltoks_expr: str = "ltoks", text_expr: str = "text") -> str:
    """The DuckDB CASE expression equivalent to :func:`lang_id`, generated
    from the SAME marker/script tables and priority orders (oracle parity
    by construction): an outer script gate (non-Latin script chars >
    Latin letters → first-argmax weighted script count) wrapping the
    marker CASE."""

    def cnt(lang: str) -> str:
        # SQL-escape quotes so elision markers ("l'", "c'è") stay valid
        words = ",".join("'" + w.replace("'", "''") + "'" for w in LANG_MARKERS[lang])
        return f"len(list_filter({ltoks_expr}, x -> x IN ({words})))"

    order = list(LANG_MARKERS)
    clauses = []
    for i, lang in enumerate(order):
        conds = [f"{cnt(lang)} >= {cnt(later)}" for later in order[i + 1 :]]
        conds.append(f"{cnt(lang)} > 0")
        clauses.append("WHEN " + "\n          AND ".join(conds) + f" THEN '{lang}'")
    marker_case = "CASE " + "\n         ".join(clauses) + " ELSE 'und' END"

    def sc(ranges: str) -> str:
        return (
            f"(length({text_expr}) - "
            f"length(regexp_replace({text_expr}, '[{ranges}]', '', 'g')))"
        )

    def wc(lang: str) -> str:
        c = sc(LANG_SCRIPTS[lang])
        return f"({c} * {KANA_WEIGHT})" if lang == "ja" else c

    s_order = list(LANG_SCRIPTS)
    # mirror of the Spark side's lazy gate: ONE combined-class count in
    # the CASE condition; the per-script counts sit in the THEN branch,
    # which DuckDB also evaluates lazily per row
    s_total = sc("".join(LANG_SCRIPTS.values()))
    latin = sc(_LATIN_CLASS)
    s_clauses = []
    for i, lang in enumerate(s_order):
        conds = [f"{wc(lang)} >= {wc(later)}" for later in s_order[i + 1 :]]
        conds.append("TRUE")
        s_clauses.append(
            "WHEN " + "\n            AND ".join(conds) + f" THEN '{lang}'"
        )
    script_case = "CASE " + "\n           ".join(s_clauses) + " END"
    return (
        f"CASE WHEN ({s_total}) > {latin}\n"
        f"       THEN {script_case}\n"
        f"       ELSE {marker_case} END"
    )


def quality_metrics(text: Column) -> list[Column]:
    """Quality-score components (counts + ratios rounded to 4 decimals so the
    oracle's floating point matches bit-for-bit)."""
    n_chars = F.length(text).cast("long").alias("n_chars")
    n_tokens = token_count(text).alias("n_tokens")
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("long")
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", "")).cast("long")
    alpha_ratio = F.round(alpha / F.greatest(F.length(text), F.lit(1)), 4).alias(
        "alpha_ratio"
    )
    punct_ratio = F.round(punct / F.greatest(F.length(text), F.lit(1)), 4).alias(
        "punct_ratio"
    )
    mean_word_len = F.round(
        F.length(F.regexp_replace(F.trim(text), r"\s+", ""))
        / F.greatest(token_count(text), F.lit(1)),
        4,
    ).alias("mean_word_len")
    return [n_chars, n_tokens, alpha_ratio, punct_ratio, mean_word_len]


def stopword_ratio(text: Column) -> Column:
    toks = tokens(F.lower(text))
    hits = F.size(
        F.filter(toks, lambda t: t.isin(STOPWORDS_EN))
    )
    return F.round(hits / F.greatest(F.size(toks), F.lit(1)), 4)


def winnow_windows(df, id_col: str = "doc_id", text_col: str = "text",
                   k: int = 8, window: int = 4, max_chars: int = 120):
    """Winnowing fingerprints WITH window positions (Schleimer et al.,
    SIGMOD 2003 — public algorithm): hash every k-gram of the normalized
    text, slide a window of ``window`` consecutive hashes, keep each
    window's minimum. Returns one row per full window:
    ``(doc_id, j, fp)`` with ``j`` the 1-based window start position.

    Hashes are md5 hex strings and the window minimum is their lexicographic
    min — deliberately so the DuckDB oracle computes the identical set
    (md5 and ASCII ordering agree across engines; a bigint rolling hash
    would not round-trip through SQL portably).

    Shape: posexplode the k-gram hashes, then a per-document sliding
    ``min() OVER (rows BETWEEN CURRENT AND window-1 FOLLOWING)``. A pure
    array-expression formulation is quadratic in practice — Spark re-evaluates
    the captured grams array for every element of an outer ``transform``
    lambda (no common-subexpression elimination inside higher-order
    functions; measured: minutes for 5k docs vs seconds here).
    """
    from pyspark.sql.window import Window

    # materialize the normalized string as a COLUMN before exploding gram
    # positions: higher-order-function lambdas re-evaluate captured
    # expressions per element (no CSE), so md5(substring(<regex chain>, i, k))
    # inside a transform() re-ran the full regexp_replace once PER GRAM —
    # ~113× per document (profiled: 12 s → ~2 s at sf0.1). With the string
    # computed in a projection below a Generate, the explode replicates the
    # VALUE and each gram row does one substring + one md5.
    normed = df.select(
        F.col(id_col).alias("doc_id"),
        F.substring(
            F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")),
            1,
            max_chars,
        ).alias("_s"),
    ).withColumn("_n", F.length("_s") - (k - 1))
    exploded = (
        normed.filter(F.col("_n") >= 1)  # sequence(1,n) DESCENDS for n<1
        .select(
            "doc_id",
            "_n",
            "_s",
            F.posexplode(F.sequence(F.lit(1), F.col("_n"))).alias("i", "_pos1"),
        )
        .select(
            "doc_id",
            "_n",
            "i",
            F.md5(F.col("_s").substr(F.col("_pos1"), F.lit(k))).alias("h"),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.currentRow, window - 1)
    )
    return (
        exploded.withColumn("fp", F.min("h").over(w))
        .filter(F.col("i") <= F.col("_n") - window)  # full windows only (0-based i)
        .select("doc_id", (F.col("i") + 1).alias("j"), "fp")
    )


def hot_window_spans(df, id_col: str = "doc_id", text_col: str = "text",
                     k: int = 8, window: int = 4, max_chars: int = 120,
                     min_docs: int = 3, gap: int | None = None):
    """Repeated-substring (boilerplate) span detection — the crawl-scale
    approximation of ExactSubstr dedup (Lee et al. 2022, arXiv:2107.06499,
    public): a winnowing fingerprint shared by ≥ ``min_docs`` documents
    marks its window position hot; hot positions within ``gap`` (default
    ``window``) of each other merge into spans (gaps-and-islands).

    Returns ``(doc_id, span_start, span_end, n_windows)`` with 1-based
    window positions — the spans a training-data pipeline cuts or
    down-weights as cross-document boilerplate.

    Scale shape: fingerprint document-frequency is computed IN PLACE with
    the dense_rank-then-max window trick (exact COUNT(DISTINCT doc_id) per
    fp, sort-based, no per-row set buffer) so the expensive winnow subplan
    — regex normalize + per-gram md5 + posexplode — is evaluated exactly
    once (a groupBy + join-back formulation references it from two plan
    branches and Spark executes it twice); island merging is one window
    per doc_id. Three exchanges total, no driver-side loops."""
    from pyspark.sql.window import Window

    wpos = winnow_windows(df, id_col, text_col, k, window, max_chars)
    w_fp = Window.partitionBy("fp")
    hot_pos = (
        wpos.withColumn(
            "_dr", F.dense_rank().over(w_fp.orderBy("doc_id"))
        )
        .withColumn("_df", F.max("_dr").over(w_fp))
        .filter(F.col("_df") >= min_docs)
        .select("doc_id", "j")
    )
    g = window if gap is None else gap
    wlag = Window.partitionBy("doc_id").orderBy("j")
    marked = hot_pos.withColumn(
        "brk",
        F.when(F.col("j") - F.lag("j").over(wlag) <= g, F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    isl = marked.withColumn(
        "isl",
        F.sum("brk").over(
            wlag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return isl.groupBy("doc_id", "isl").agg(
        F.min("j").cast("long").alias("span_start"),
        F.max("j").cast("long").alias("span_end"),
        F.count("*").alias("n_windows"),
    ).drop("isl")


# training-data curation (Gopher-style rules, Rae et al. 2021 §A1.1 — public
# heuristics): bounds on document/word shape that cheaply filter crawl junk.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MWL = 3.0
GOPHER_MAX_MWL = 10.0

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_URL_RE = r"https?://[^\s]+"


def repetition_bp(text: Column, n: int = 2, toks: Column | None = None) -> Column:
    """Duplicate word-n-gram fraction in basis points: round((1 − distinct/
    total) · 10⁴). High values flag boilerplate/spam (the Gopher repetition
    family). 0 for docs with < n+1 tokens. Pure Column expressions.

    Pass ``toks`` as a MATERIALIZED column (``withColumn("_toks",
    tokens(...))``) on hot paths: the transform lambda below re-evaluates a
    captured token EXPRESSION once per gram (no CSE in HOF lambdas — the
    repo's documented quadratic gotcha), while an aliased attribute
    referenced ≥2 times survives CollapseProject and reads the row value."""
    toks = tokens(F.lower(text)) if toks is None else toks
    total = F.size(toks) - (n - 1)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    distinct = F.size(F.array_distinct(grams))
    return F.when(
        total >= 1, F.round((1 - distinct / total) * 10000).cast("int")
    ).otherwise(F.lit(0))


def gopher_flags(text: Column, toks: Column | None = None) -> list[Column]:
    """Boolean quality gates (aliased columns) from the published Gopher
    rules: word-count bounds, mean-word-length bounds, symbol-to-word ratio
    (# and …), bullet-line and ellipsis-line fractions, and the
    alphabetic-word fraction. Each gate is a pure Column expression; pass a
    materialized ``toks`` on hot paths (see repetition_bp)."""
    toks = tokens(F.lower(text)) if toks is None else toks
    nt = F.size(toks)
    denom_w = F.greatest(nt, F.lit(1))
    mwl = F.length(F.regexp_replace(F.trim(text), r"\s+", "")) / denom_w
    n_hash = F.length(F.regexp_replace(text, r"[^#]", ""))
    # both ellipsis spellings: ASCII '...' and the typographic '…' (U+2026)
    n_ell = F.size(F.regexp_extract_all(text, F.lit(r"\.\.\.|…"), 0))
    lines = F.split(text, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_lines = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"^[-*•]"))
    )
    ell_lines = F.size(
        F.filter(lines, lambda ln: F.trim(ln).rlike(r"(\.\.\.|…)$"))
    )
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    return [
        ((nt >= GOPHER_MIN_WORDS) & (nt <= GOPHER_MAX_WORDS)).alias("ok_word_count"),
        ((mwl >= GOPHER_MIN_MWL) & (mwl <= GOPHER_MAX_MWL)).alias("ok_mean_word_len"),
        ((n_hash + n_ell) / denom_w <= 0.1).alias("ok_symbol_ratio"),
        (bullet_lines / n_lines <= 0.9).alias("ok_bullet_lines"),
        (ell_lines / n_lines <= 0.3).alias("ok_ellipsis_lines"),
        (alpha_words / denom_w >= 0.8).alias("ok_alpha_words"),
    ]


def strip_urls(text: Column) -> Column:
    """URLs → '<URL>'. Materialize this once (withColumn) when combining
    redact_pii and pii_counts — each would otherwise run the full-document
    URL regex independently per row."""
    return F.regexp_replace(text, _URL_RE, "<URL>")


def redact_pii(text: Column, no_url: Column | None = None) -> Column:
    """Replace URLs then e-mail addresses with typed placeholders — the
    standard pre-training scrub. URL first: an address inside a URL must
    redact as part of the URL, not leave a dangling '<EMAIL>' fragment."""
    no_url = strip_urls(text) if no_url is None else no_url
    return F.regexp_replace(no_url, _EMAIL_RE, "<EMAIL>")


def pii_counts(text: Column, no_url: Column | None = None) -> list[Column]:
    """(n_urls, n_emails) found by the same patterns redact_pii replaces
    (emails counted after URL removal, mirroring the redaction order)."""
    no_url = strip_urls(text) if no_url is None else no_url
    return [
        F.size(F.regexp_extract_all(text, F.lit(_URL_RE), 0)).alias("n_urls"),
        F.size(F.regexp_extract_all(no_url, F.lit(_EMAIL_RE), 0)).alias("n_emails"),
    ]


def chunk_documents(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 16,
):
    """Split documents into overlapping token windows — the context-window
    packing step of a training-data pipeline. Returns
    ``(doc_id, chunk_no, chunk_text, n_tokens)`` rows.

    Canonical sliding-window semantics: stride = chunk_tokens − overlap;
    chunk i covers tokens [i·stride+1, i·stride+chunk_tokens];
    n_chunks = 1 if the doc fits in one window else
    1 + ceil((n − chunk_tokens)/stride) (integer arithmetic — exact in any
    engine). Empty docs emit nothing.

    Plan shape: tokens materialize once per document, a posexplode Generate
    emits the chunk indices, and each row slices the token array — linear,
    never the quadratic transform-lambda formulation."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        # filter empty boundary tokens (newline-framed text): they would
        # occupy chunk-window slots and pad chunk_text with spaces, making
        # the chunk-level n_tokens disagree with pack_sequences' recount
        F.filter(
            tokens(F.col(text_col)), lambda t: F.length(t) > 0
        ).alias("_toks"),
    ).withColumn("_n", F.size("_toks"))
    n_chunks = F.when(F.col("_n") <= chunk_tokens, F.lit(1)).otherwise(
        1 + F.floor((F.col("_n") - chunk_tokens + stride - 1) / stride).cast("int")
    )
    exploded = (
        toked.filter(F.col("_n") >= 1)
        .withColumn("_nc", n_chunks)
        .select(
            "doc_id",
            "_toks",
            "_n",
            F.posexplode(F.sequence(F.lit(0), F.col("_nc") - 1)).alias(
                "_p", "chunk_no"
            ),
        )
    )
    piece = F.slice(
        F.col("_toks"), F.col("chunk_no") * stride + 1, F.lit(chunk_tokens)
    )
    return exploded.select(
        "doc_id",
        "chunk_no",
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("int").alias("n_tokens"),
    )


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of case/whitespace-normalized text —
    the exact-dedup key. (A content-defined rolling-hash variant lives in
    dedup.simhash for near-dup use.)"""
    return F.md5(F.lower(F.regexp_replace(F.trim(text), r"\s+", " ")))


# ── Gopher repetition suite (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", Table A1) ──────────────
# The published repetition filters: duplicate line / paragraph fractions,
# duplicate line / paragraph CHARACTER fractions, top n-gram character
# fraction (n = 2..4), and duplicate n-gram character fraction (n = 5..10).
# Segment stats are pure Column expressions (no explode); the gram families
# use posexplode + window — the repo's documented fix for quadratic HOF
# re-evaluation — so every shuffle is keyed by doc_id and scales.


def dup_segment_stats(text: Column) -> list[Column]:
    """Duplicate-line and duplicate-paragraph stats as four aliased bp
    columns: ``dup_line_bp``, ``dup_line_char_bp``, ``dup_para_bp``,
    ``dup_para_char_bp``.

    Lines split on ``\\n``, paragraphs on blank lines (``\\n\\s*\\n``);
    segments are trimmed and empties dropped. A segment occurrence beyond
    the first of its exact text is a duplicate (Rae et al.'s
    ``find_duplicates``): element fraction = dup occurrences / segments,
    char fraction = chars of dup occurrences / chars of all segments.
    Pure expressions — ``total − distinct`` gives dup counts without a
    quadratic per-element scan.
    """

    def _stats(segs: Column, prefix: str) -> list[Column]:
        # NOTE: must be a unary lambda — passing F.trim directly makes
        # PySpark bind its optional trim-chars parameter to the element
        # INDEX (trim(x, i)), silently mangling segments
        segs = F.filter(
            F.transform(segs, lambda s: F.trim(s)), lambda s: F.length(s) > 0
        )
        uniq = F.array_distinct(segs)
        n_all = F.size(segs)
        chars = lambda a: F.aggregate(  # noqa: E731
            a, F.lit(0).cast("long"), lambda acc, s: acc + F.length(s)
        )
        c_all, c_uniq = chars(segs), chars(uniq)
        frac_n = (n_all - F.size(uniq)) / F.greatest(n_all, F.lit(1))
        frac_c = (c_all - c_uniq) / F.greatest(c_all, F.lit(1))
        return [
            F.round(F.round(frac_n, 4) * 10000).cast("int").alias(f"{prefix}_bp"),
            F.round(F.round(frac_c, 4) * 10000)
            .cast("int")
            .alias(f"{prefix}_char_bp"),
        ]

    lines = F.split(text, r"\n")
    paras = F.split(text, r"\n\s*\n")
    return _stats(lines, "dup_line") + _stats(paras, "dup_para")


def gopher_repetition(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
):
    """Full Gopher repetition table: one row per document with
    ``dup_line_bp, dup_line_char_bp, dup_para_bp, dup_para_char_bp``,
    ``top_{n}gram_bp`` for n in ``top_ns`` and ``dup_{n}gram_bp`` for n in
    ``dup_ns`` (all basis points, int).

    Definitions (documented because the paper leaves ties/overlap loose):

    - tokens = whitespace split of ``lower(trim(text))``; the character
      denominator for the gram families is the total non-whitespace char
      count of those tokens.
    - ``top_{n}gram_bp``: chars of the most frequent word n-gram (count ×
      non-space chars of the gram) / total chars. Ties broken
      deterministically by (count desc, gram chars desc, gram asc).
    - ``dup_{n}gram_bp``: chars covered by ANY word position lying inside an
      occurrence of an n-gram whose text occurs more than once in the doc
      (interval-union coverage — overlapping occurrences are not double
      counted) / total chars. This is the position-marking variant used by
      the public reimplementations; it is order-independent, unlike the
      paper's greedy left-to-right scan, so it parallelizes and has an
      exact SQL mirror.

    Plan shape (r6): one posexplode (Generate barrier defeats HOF
    re-evaluation), one lead-window forming all gram sizes in a single pass
    (the running char prefix-sum rides the same Window spec), then — since
    the lead-window's doc_id hash partitioning satisfies every downstream
    (doc_id, …) grouping — ONLY complete aggregations and one gram-count
    window, no further exchange. The top family deduplicates grams with a
    sort-free groupBy count; the dup family collects just the DUPLICATED
    occurrences per (doc_id, n) and one ``aggregate`` fold over the
    pos-sorted list computes the interval-union char coverage from the
    prefix sums (``cum[e] − cum[s−1]`` per merged island) — no per-position
    explode, no distinct shuffle, no join back to the word-length frame.
    Scales: a 10⁶-token document fans out across partitions instead of
    pinning a task in a per-row HOF, and the per-(doc,n) collected list is
    bounded by the doc's own token count (the same magnitude the upstream
    ``_toks`` array already carries per row).
    """
    from pyspark.sql.window import Window

    all_req = (*top_ns, *dup_ns)
    if not all_req:
        raise ValueError("gopher_repetition: need at least one n")
    if min(all_req) < 2:
        # gram(1) would reference a lead column that never exists; the
        # single-word variant is vocabulary/token_count territory
        raise ValueError("gopher_repetition: n-gram sizes start at 2")
    max_n = max(all_req)
    base = df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    seg = base.select("doc_id", *dup_segment_stats(F.col("text")))

    # drop empty boundary tokens: trim() strips only 0x20, so text framed
    # by newlines would otherwise split into ['', w1, .., wn, ''] and the
    # zero-length "words" would join grams (" a" etc.) — filter BEFORE the
    # posexplode so coverage positions stay contiguous
    toked = base.select(
        "doc_id",
        F.filter(
            tokens(F.lower(F.col("text"))), lambda t: F.length(t) > 0
        ).alias("_toks"),
    )
    words = toked.select(
        "doc_id", F.posexplode("_toks").alias("pos", "word")
    )
    wlen = words.select(
        "doc_id", "pos", F.length("word").alias("wlen")
    )
    totals = wlen.groupBy("doc_id").agg(
        F.sum("wlen").alias("total_chars")
    )

    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    # `_cum` = inclusive running char sum over the doc's tokens — same
    # partition+order spec as the leads, so it evaluates in the SAME
    # Window pass (no extra sort). It gives every gram occurrence its
    # char-interval bounds by construction: start = cum[pos−1]
    # (= cum − len(word)), end = start + gram_chars = cum[pos+n−1].
    leads = words.select(
        "doc_id",
        "pos",
        "word",
        F.sum(F.length("word")).over(w_ord).cast("long").alias("_cum"),
        *[
            F.lead("word", i).over(w_ord).alias(f"_l{i}")
            for i in range(1, max_n)
        ],
    )

    def gram(n: int) -> Column:
        parts = [F.col("word")] + [F.col(f"_l{i}") for i in range(1, n)]
        return F.when(
            F.col(f"_l{n-1}").isNotNull(), F.concat_ws(" ", *parts)
        )

    # ONE Generate over an array of (n, gram) structs covering every gram
    # size — NOT a self-union (which would recompute the posexplode+lead
    # subtree once per n). The lead-window's hash partitioning on doc_id
    # satisfies every grouping/window below (subset key), so neither
    # branch adds an exchange past this point.
    all_ns = tuple(sorted(set(top_ns) | set(dup_ns)))
    structs = F.array(
        *[F.struct(F.lit(n).alias("n"), gram(n).alias("gram")) for n in all_ns]
    )
    grams_all = (
        leads.select(
            "doc_id",
            "pos",
            (F.col("_cum") - F.length("word")).cast("long").alias("_cs"),
            F.explode(structs).alias("g"),
        )
        .select("doc_id", "pos", "_cs", "g.n", "g.gram")
        .filter(F.col("gram").isNotNull())
    )

    # ── top n-gram char fraction ────────────────────────────────────────────
    # distinct grams via a sort-free groupBy count (r6; the previous
    # count-window + min-pos row_number dedup cost two full sorts of the
    # gram frame), then the deterministic argmax
    gcnt = (
        grams_all.filter(F.col("n").isin(list(top_ns)))
        .groupBy("doc_id", "n", "gram")
        .agg(F.count("*").alias("cnt"))
    )
    gchars = (F.length("gram") - (F.col("n") - 1)).alias("gram_chars")
    w_top = Window.partitionBy("doc_id", "n").orderBy(
        F.col("cnt").desc(), F.col("gram_chars").desc(), F.col("gram")
    )
    top = (
        gcnt.select("doc_id", "n", "cnt", "gram", gchars)
        .withColumn("rk", F.row_number().over(w_top))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id", "n", (F.col("cnt") * F.col("gram_chars")).alias("top_chars")
        )
    )
    top_w = top.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("n") == n, F.col("top_chars"))).alias(
                f"_top{n}"
            )
            for n in top_ns
        ]
    )

    # ── duplicate n-gram char coverage (interval union) ─────────────────────
    # occurrence counts via the gram window (no per-gram allocation), then
    # ONLY the duplicated occurrences collect per (doc_id, n) — each with
    # its prefix-sum char bounds — and one ``aggregate`` fold over the
    # pos-sorted list computes the union coverage: a new island adds
    # ce − cs (its own chars); an overlap extension adds ce − state.ce
    # (ends strictly increase with pos at fixed n, tokens are non-empty).
    # This replaces the former per-position explode + distinct shuffle +
    # join back to the word-length frame (a third tokenize pass) with a
    # per-(doc,n) list bounded by the doc's own token count.
    w_gram = Window.partitionBy("doc_id", "n", "gram")
    dups = (
        grams_all.filter(F.col("n").isin(list(dup_ns)))
        .withColumn("cnt", F.count("*").over(w_gram))
        .filter(F.col("cnt") > 1)
        .select(
            "doc_id",
            "n",
            F.struct(
                F.col("pos").alias("p"),
                F.col("_cs").alias("cs"),
                (F.col("_cs") + F.length("gram") - (F.col("n") - 1))
                .cast("long")
                .alias("ce"),
            ).alias("_o"),
        )
    )
    fold = F.aggregate(
        F.array_sort(F.col("_occ")),
        F.struct(
            F.lit(-1).alias("ep"),
            F.lit(0).cast("long").alias("ce"),
            F.lit(0).cast("long").alias("acc"),
        ),
        lambda s, r: F.struct(
            (r["p"] + F.col("n") - 1).alias("ep"),
            r["ce"].alias("ce"),
            (
                s["acc"]
                + F.when(r["p"] > s["ep"], r["ce"] - r["cs"]).otherwise(
                    r["ce"] - s["ce"]
                )
            ).alias("acc"),
        ),
        lambda s: s["acc"],
    )
    covered = (
        dups.groupBy("doc_id", "n")
        .agg(F.collect_list("_o").alias("_occ"))
        .select("doc_id", "n", fold.alias("cov_chars"))
    )
    cov_w = covered.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("n") == n, F.col("cov_chars"))).alias(
                f"_dup{n}"
            )
            for n in dup_ns
        ]
    )

    def bp(chars_col: Column) -> Column:
        frac = F.coalesce(chars_col, F.lit(0)) / F.greatest(
            F.col("total_chars"), F.lit(1)
        )
        return F.round(F.round(frac, 4) * 10000).cast("int")

    return (
        seg.join(totals, "doc_id", "left")
        .join(top_w, "doc_id", "left")
        .join(cov_w, "doc_id", "left")
        .withColumn("total_chars", F.coalesce("total_chars", F.lit(0)))
        .select(
            "doc_id",
            "dup_line_bp",
            "dup_line_char_bp",
            "dup_para_bp",
            "dup_para_char_bp",
            *[bp(F.col(f"_top{n}")).alias(f"top_{n}gram_bp") for n in top_ns],
            *[bp(F.col(f"_dup{n}")).alias(f"dup_{n}gram_bp") for n in dup_ns],
        )
    )


def remove_hot_spans(df, id_col: str = "doc_id", text_col: str = "text",
                     k: int = 8, window: int = 4, max_chars: int = 120,
                     min_docs: int = 3, gap: int | None = None):
    """ExactSubstr-style DELETION (Lee et al. 2022 cut the repeated
    substrings, they did not only flag them): remove every hot span found
    by :func:`hot_window_spans` from the normalized text.

    A span ``[s, e]`` in window positions covers characters
    ``[s, e + window + k - 2]`` of the normalized string (last window's
    last k-gram); consecutive islands may overlap after that widening, so
    the cutter clips each cut to start after the previous one. Returns
    ``(doc_id, text_clean, n_cut_chars)`` where ``text_clean`` is the
    normalized text with spans excised (docs without spans pass through
    normalized; fingerprinting only sees the first ``max_chars``, so cuts
    never reach past that prefix).

    Shape: one aggregation of spans per doc (sort_array over a handful of
    structs), then a LEFT join back to the docs and a single
    ``F.aggregate`` building the kept text — the normalized string is
    materialized BELOW the join, so the HOF lambda reads a bound attribute
    instead of re-running the regex chain per span (the repo's CSE
    gotcha)."""
    spans = hot_window_spans(
        df, id_col, text_col, k, window, max_chars, min_docs, gap
    )
    ext = window + k - 2
    agg_spans = spans.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"),
                    (F.col("span_end") + ext).alias("e"),
                )
            )
        ).alias("_spans")
    )
    normed = df.select(
        F.col(id_col).alias("doc_id"),
        F.lower(
            F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
        ).alias("_norm"),
    )
    joined = normed.join(agg_spans, "doc_id", "left")
    n = F.length("_norm")
    acc0 = F.struct(
        F.lit(1).cast("long").alias("pos"), F.lit("").alias("acc")
    )
    built = F.aggregate(
        F.coalesce(F.col("_spans"), F.array().cast(
            "array<struct<s:bigint,e:bigint>>")),
        acc0,
        lambda st, sp: F.struct(
            F.greatest(st["pos"], sp["e"] + 1).alias("pos"),
            F.concat(
                st["acc"],
                F.col("_norm").substr(
                    st["pos"],
                    F.greatest(
                        F.greatest(sp["s"], st["pos"]) - st["pos"], F.lit(0)
                    ).cast("int"),
                ),
            ).alias("acc"),
        ),
        lambda st: F.concat(
            st["acc"],
            F.col("_norm").substr(
                st["pos"], F.greatest(n - st["pos"] + 1, F.lit(0)).cast("int")
            ),
        ),
    )
    return joined.select(
        "doc_id",
        built.alias("text_clean"),
        (n - F.length(built)).cast("long").alias("n_cut_chars"),
    )
