"""Text-analysis operators over a `documents(doc_id, text, ...)` table.

Everything here is built-in-function columnar (JVM-side, whole-stage
codegen) — no Python in the hot path — so it scales linearly with input
partitions at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# compact English stopword list for the language-ID heuristic
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def ws_trim(text: Column | str) -> Column:
    """Strip leading/trailing WHITESPACE (F.trim only strips spaces — a
    lone newline would otherwise tokenize as two empty tokens)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def token_count(text: Column | str) -> Column:
    """Whitespace token count; empty/blank string → 0."""
    c = F.col(text) if isinstance(text, str) else text
    trimmed = ws_trim(c)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, "\\s+"))
    ).cast("long")


# RE2-safe (no lookahead) BPE-ish pre-tokenization pattern: optional-space
# word / number / punctuation-run groups — the GPT-2 family shape
BPE_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_like_token_count(text: Column | str) -> Column:
    """Approximate BPE token count: number of BPE-ish pre-tokenizer matches.

    regexp_count stays in codegen; the pattern avoids lookahead so the same
    regex runs identically on RE2 engines (DuckDB oracle parity).
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_PATTERN)).cast("long")


ROLLING_BASE = 31
ROLLING_PRIME = 2038074743  # 31-bit prime: base*p + 127 stays well under 2^63


def rolling_fingerprint(text: Column | str) -> Column:
    """Polynomial rolling-hash fingerprint over the normalized character
    stream: h = fold(h*31 + codepoint) mod p on lowercased alnum+space text.

    Unlike the md5 fingerprint this is incrementally updatable (the rolling
    property a streaming fingerprinter needs) and exactly reproducible in
    ANSI SQL for the oracle."""
    c = F.col(text) if isinstance(text, str) else text
    normalized = F.regexp_replace(F.lower(c), "[^a-z0-9 ]", "")
    # split("") may emit empty-string elements — drop them so the char
    # stream matches the oracle engine's splitter exactly
    chars = F.filter(F.split(normalized, ""), lambda ch: ch != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(
            acc * F.lit(ROLLING_BASE) + F.ascii(ch),
            F.lit(ROLLING_PRIME),
        ),
    )


def char_fingerprint(text: Column | str) -> Column:
    """Polynomial fold over the RAW character stream — h = fold(h*31 +
    codepoint) mod p with NO normalization, the exact-substring identity
    the char-windowed ExactSubstr span family needs (two windows hash
    equal iff their raw characters are equal, up to the usual mod-p
    collision caveat).  :func:`rolling_fingerprint` lowercases and strips
    punctuation first — right for document/token fingerprints, wrong for
    byte-fidelity span marking.  Exactly reproducible in ANSI SQL
    (ord() fold) for the oracle."""
    c = F.col(text) if isinstance(text, str) else text
    chars = F.filter(F.split(c, ""), lambda ch: ch != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(
            acc * F.lit(ROLLING_BASE) + F.ascii(ch),
            F.lit(ROLLING_PRIME),
        ),
    )


def char_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.length(c).cast("long")


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/whitespace."""
    c = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(c, "[A-Za-z0-9 \\t\\n\\r]", "")
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        F.length(stripped).cast("double") / F.length(c)
    )


def stopword_hits(text: Column | str, words=EN_STOPWORDS) -> Column:
    """Number of whitespace-delimited tokens that are exactly a stopword.

    Counted with `array_size(filter(tokens, t -> t IN (...)))` — pure
    Catalyst expressions, also expressible in ANSI SQL for the oracle.
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.lower(ws_trim(c)), "\\s+")
    return F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")


def language_guess(text: Column | str, min_hits: int = 1) -> Column:
    """Heuristic language ID: stopword-hit count ≥ threshold → 'en' else
    'other'.  (Real n-gram models plug in as an extra scorer column; the
    operator shape — score columns + argmax — is what matters at scale.)"""
    return F.when(stopword_hits(text) >= F.lit(min_hits), F.lit("en")).otherwise(
        F.lit("other")
    )


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality score from length/punct/stopword signals —
    the length/punct/stopword-ratio heuristic family used by large corpus
    filters (C4-style)."""
    c = F.col(text) if isinstance(text, str) else text
    n_tok = token_count(c)
    len_ok = F.when((n_tok >= 5) & (n_tok <= 100000), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(c) <= 0.2, 1.0).otherwise(0.0)
    stop_ok = F.when(stopword_hits(c) >= 1, 1.0).otherwise(0.0)
    return (len_ok + punct_ok + stop_ok) / F.lit(3.0)


def gopher_quality_flags(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher-style quality RULE FLAGS per document (Rae et al. 2021 §A1.1
    repetition/quality heuristics, the subset computable without external
    models): word-count band, mean-word-length band, symbol-to-word ratio
    ('#'/'…'), alphabetic-word fraction, stop-word presence.  Returns one
    row per doc with each rule's boolean + the conjunction ``keep`` — rule
    flags (not a blended score like :func:`quality_score`) so a pipeline
    can report WHICH rule kills each document, the way corpus-build audits
    are actually debugged.

    Pure columnar expressions; one narrow projection, no shuffle.
    """
    c = F.col(text_col)
    toks = F.filter(F.split(F.lower(ws_trim(c)), "\\s+"), lambda t: t != "")
    n_words = F.size(toks)
    mean_len = F.when(n_words == 0, F.lit(0.0)).otherwise(
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
        .cast("double") / n_words
    )
    n_symbols = F.length(c) - F.length(F.regexp_replace(c, "[#…]", ""))
    symbol_ratio = F.when(n_words == 0, F.lit(0.0)).otherwise(
        n_symbols.cast("double") / n_words
    )
    alpha_frac = F.when(n_words == 0, F.lit(0.0)).otherwise(
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("double") / n_words
    )
    flags = {
        "word_count_ok": (n_words >= min_words) & (n_words <= max_words),
        "mean_word_len_ok": (mean_len >= min_mean_word_len)
        & (mean_len <= max_mean_word_len),
        "symbol_ratio_ok": symbol_ratio <= max_symbol_ratio,
        "alpha_frac_ok": alpha_frac >= min_alpha_word_frac,
        "stopwords_ok": stopword_hits(c) >= min_stopword_hits,
    }
    keep = None
    for f in flags.values():
        keep = f if keep is None else keep & f
    return documents.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        F.round(mean_len, 4).alias("mean_word_len"),
        F.round(alpha_frac, 4).alias("alpha_word_frac"),
        *[v.alias(k) for k, v in flags.items()],
        keep.alias("keep"),
    )


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the
    lowercased/alnum-normalized text — stable across engines (DuckDB md5
    produces the identical hex)."""
    c = F.col(text) if isinstance(text, str) else text
    normalized = F.regexp_replace(F.lower(c), "[^a-z0-9]", "")
    return F.md5(normalized)


def repetition_ratio(text: Column | str, n: int = 2) -> Column:
    """Distinct word-n-gram fraction in [0,1]: 1.0 = no repeated n-grams,
    low values flag the boilerplate/looping text large-corpus filters drop
    (the 'repetition removal' signal of Gopher/MassiveText-style rules).

    Docs with fewer than n tokens score 1.0 (a single whole-doc gram).
    Pure Catalyst array algebra — no shuffle, no Python.
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.lower(ws_trim(c)), "\\s+")
    sz = F.size(toks)
    # zip of n SHIFTED SLICES, not transform-with-element_at: the latter
    # re-evaluates the `toks` split per gram (the higher-order-lambda trap
    # — see dedup.word_shingles); the zip form evaluates each slice once
    m = F.greatest(sz - n + 1, F.lit(1))
    parts = [F.slice(toks, j + 1, m) for j in range(n)]
    zipped = parts[0]
    for p in parts[1:]:
        zipped = F.zip_with(zipped, p, lambda a, b: F.concat_ws(" ", a, b))
    grams = F.when(sz >= n, zipped).otherwise(
        F.array(F.concat_ws(" ", toks))
    )
    return F.round(
        F.size(F.array_distinct(grams)).cast("double") / F.size(grams), 4
    )


def _sorted_run_entropy(sorted_arr: Column, round_to: int) -> Column:
    """Shannon entropy (bits) of the value distribution of a SORTED array,
    computed in ONE fold pass: run lengths c_k accumulate ``c·log2(c)``
    as runs close, then ``H = log2(n) − Σ c_k·log2(c_k) / n``.  Empty
    array → 0.0.  Pure Catalyst projection — per-row map work, no
    explode, no shuffle; the array expression is evaluated exactly once
    (F.aggregate binds it, dodging the higher-order re-eval trap)."""

    def clog(r: Column) -> Column:
        return r * F.log2(r)

    def merge(acc: Column, v: Column) -> Column:
        same = acc.getField("prev") == v
        closed = acc.getField("s") + F.when(
            acc.getField("run") > 0, clog(acc.getField("run"))
        ).otherwise(F.lit(0.0))
        return F.struct(
            v.alias("prev"),
            F.when(same, acc.getField("run") + 1)
            .otherwise(F.lit(1.0))
            .alias("run"),
            F.when(same, acc.getField("s")).otherwise(closed).alias("s"),
        )

    def finish(acc: Column) -> Column:
        return acc.getField("s") + F.when(
            acc.getField("run") > 0, clog(acc.getField("run"))
        ).otherwise(F.lit(0.0))

    init = F.struct(
        F.lit("").alias("prev"), F.lit(0.0).alias("run"), F.lit(0.0).alias("s")
    )
    n = F.size(sorted_arr)
    s = F.aggregate(sorted_arr, init, merge, finish)
    return F.round(
        F.when(n > 0, F.log2(n.cast("double")) - s / n).otherwise(F.lit(0.0)),
        round_to,
    )


def normalize_text(text: Column | str) -> Column:
    """Deterministic text cleanup — the normalization pass a corpus runs
    BEFORE hashing/dedup/tokenization so that invisible byte differences
    (zero-widths, CRLF, smart quotes, control chars, whitespace runs)
    don't split otherwise-identical content into distinct fingerprints:

    1. drop zero-width characters (ZWSP/ZWNJ/ZWJ/BOM);
    2. CRLF / lone CR → LF; Unicode line/paragraph separators
       (U+2028/U+2029) → LF;
    3. drop remaining C0 AND C1 control chars (U+0080–U+009F included)
       except tab and newline;
    4. smart quotes → ASCII quotes, en/em dashes → hyphen (char map);
    5. collapse space/tab/NBSP runs to one space;
    6. collapse 3+ newlines to a blank line;
    7. trim outer whitespace.

    Pure codegen'd string expressions (RE2-safe patterns, no lookaround —
    the PII-pattern rule), exactly reproducible in the SQL oracles."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, "[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]", "")
    c = F.regexp_replace(c, "\\r\\n?", "\n")
    c = F.regexp_replace(c, "[\\x{2028}\\x{2029}]", "\n")
    c = F.regexp_replace(
        c, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x{80}-\\x{9F}]", ""
    )
    c = F.translate(c, "‘’“”–—", "''\"\"--")
    c = F.regexp_replace(c, "[ \\t\\x{A0}]+", " ")
    c = F.regexp_replace(c, "\\n{3,}", "\n\n")
    return ws_trim(c)


def char_entropy(text: Column | str, round_to: int = 4) -> Column:
    """Character-level Shannon entropy (bits): the gibberish / encoded-blob
    quality signal corpus filters threshold on — natural prose sits ~3.5-4.5
    bits, base64/hex blobs and key-mash run higher, looping filler lower.
    Zero-shuffle projection (sort chars, one fold over runs)."""
    c = F.col(text) if isinstance(text, str) else text
    chars = F.array_sort(F.filter(F.split(c, ""), lambda ch: ch != ""))
    return _sorted_run_entropy(chars, round_to)


def token_entropy(text: Column | str, round_to: int = 4) -> Column:
    """Token-level Shannon entropy (bits): vocabulary-diversity signal —
    near 0 for a doc repeating one token, log2(n_tokens) when every token
    is distinct.  Same zero-shuffle fold as :func:`char_entropy` over the
    canonical whitespace tokenization."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.array_sort(F.filter(F.split(F.lower(ws_trim(c)), "\\s+"), lambda t: t != ""))
    return _sorted_run_entropy(toks, round_to)


# RE2-safe (no lookaround/backreference) PII patterns, kept deliberately
# simple so Java regex and RE2 engines match identically in oracles
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
PHONE_PATTERN = r"\+?[0-9][0-9]{2}[-. ][0-9]{3}[-. ][0-9]{4}"


def redact_pii(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redaction pass a training-data pipeline runs before tokenization:
    emails → [EMAIL], phone numbers → [PHONE], with per-doc match counts.

    → (doc_id, n_emails, n_phones, redacted_fp) — the fingerprint (not the
    full redacted text) is projected so the output stays narrow; callers
    wanting the text use the same expressions inline.  regexp_count and
    regexp_replace run in whole-stage codegen.
    """
    c = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(c, EMAIL_PATTERN, "[EMAIL]"), PHONE_PATTERN, "[PHONE]"
    )
    return documents.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_count(c, F.lit(EMAIL_PATTERN)).cast("long").alias("n_emails"),
        F.regexp_count(c, F.lit(PHONE_PATTERN)).cast("long").alias("n_phones"),
        F.md5(redacted).alias("redacted_fp"),
    )


WINNOW_HEX_LEN = 15  # 60-bit md5-prefix gram hash — the dedup.py convention
# (identical hex in every engine, so oracles recompute the full scheme)


def _winnow_fp_arrays(
    documents: DataFrame,
    k: int,
    window: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(doc_id, __fps) with __fps = per-doc DISTINCT array of selected
    (fp_hash, pos) structs — the shared winnow kernel.  Zero shuffle: the
    gram-hash array materializes as a real column FIRST, then the window
    pass slices it (referencing the gram expression inside the window
    lambda would re-evaluate the whole array per window — the
    higher-order-lambda trap, see :func:`repetition_ratio`)."""
    from eodatadown_spark.operators.dedup import ensure_min_parallelism

    c = F.col(text_col)
    norm = F.regexp_replace(F.lower(c), "[^a-z0-9]", "")
    n_grams = F.length(norm) - k + 1
    gram_hashes = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.conv(
                F.substring(F.md5(F.substr(norm, i, F.lit(k))), 1, WINNOW_HEX_LEN),
                16,
                10,
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    with_grams = ensure_min_parallelism(documents).select(
        F.col(id_col).alias("doc_id"), gram_hashes.alias("__grams")
    )
    g = F.col("__grams")
    m = F.size(g)
    # one window per start j in 1..max(m-window+1, 1); slice() clips the
    # tail so the short-doc single window covers all m grams
    n_win = F.greatest(m - window + 1, F.lit(1))

    def pick(j):
        sl = F.slice(g, j, window)
        h = F.array_min(sl)
        # rightmost tie: first occurrence in the REVERSED slice
        pos = j + F.size(sl) - F.array_position(F.reverse(sl), h)
        return F.struct(h.alias("fp_hash"), pos.cast("long").alias("pos"))

    fps = F.when(
        m >= 1,
        F.array_distinct(F.transform(F.sequence(F.lit(1), n_win), pick)),
    ).otherwise(F.array().cast("array<struct<fp_hash:long,pos:bigint>>"))
    return with_grams.select("doc_id", fps.alias("__fps"))


def winnow_fingerprints(
    documents: DataFrame,
    k: int = 5,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    2003 — the MOSS scheme): char-k-gram hashes over the lowercased
    alnum-normalized stream, one fingerprint per length-``window`` window of
    consecutive gram hashes — the window MINIMUM, rightmost occurrence on
    ties — deduplicated per document.  → (doc_id, fp_hash, pos).

    The winnowing guarantee: any substring match of length ≥ k + window - 1
    between two documents shares at least one selected fingerprint, while
    only ~2/(window+1) of gram hashes are kept — position-robust local
    fingerprinting, unlike the whole-document :func:`rolling_fingerprint`
    (one edit anywhere changes that hash; here the change is local to the
    windows it touches).

    Plan shape: narrow projections only, zero shuffle (the array-domain
    kernel is :func:`_winnow_fp_arrays`).  Docs with fewer than ``window``
    grams yield one whole-doc window; docs shorter than k yield nothing.
    Raised to the session parallelism floor first: the per-doc array work is
    all map-side and a 3-partition small-file scan would serialize it
    (dedup.ensure_min_parallelism's rule).
    """
    # explode_OUTER, not explode: a plain explode makes Catalyst's
    # InferFiltersFromGenerate add `size(__fps) > 0` below the Generate,
    # and predicate pushdown then substitutes the FULL nested window/gram
    # construction into that filter — the whole O(n·w) array work
    # re-evaluated a second time per row, and with the when()-guards
    # re-expanded it degrades to the O(n²·k) re-evaluation the kernel
    # exists to avoid (observed: a 50-doc scan that never finished).  The
    # outer form infers nothing; short docs surface as one null row
    # dropped by the attribute-level filter, which cannot push below the
    # Generate.
    return (
        _winnow_fp_arrays(documents, k, window, id_col, text_col)
        .select("doc_id", F.explode_outer("__fps").alias("__fp"))
        .where(F.col("__fp").isNotNull())
        .select("doc_id", "__fp.fp_hash", "__fp.pos")
    )


def winnow_similarity(
    documents: DataFrame,
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document-pair similarity by shared winnowing fingerprints (the MOSS
    report): → (id_a, id_b, n_shared) for pairs sharing ≥ ``min_shared``
    distinct fingerprint hashes.

    ``max_df`` drops fingerprints present in more than that many documents
    before pairing — boilerplate suppression in MOSS terms, and the hot-key
    guard at scale: candidate volume is Σ df² over surviving hashes, so the
    cap bounds the worst bucket exactly the way the MinHash path salts its
    hot bands (dedup.py).  Inverted-index equi-join on fp_hash — candidates
    are hash collisions only, never all-pairs.  The per-doc hash distinct
    happens in the ARRAY domain before the explode (array_distinct, no
    shuffle), so the only exchanges are the hash-keyed df count/join and
    the pair rollup.
    """
    sets = _winnow_fp_arrays(documents, k, window, id_col, text_col)
    # explode_outer + null-filter for the same InferFiltersFromGenerate
    # reason as winnow_fingerprints
    fp = sets.select(
        "doc_id",
        F.explode_outer(
            F.array_distinct(
                F.transform(F.col("__fps"), lambda x: x["fp_hash"])
            )
        ).alias("fp_hash"),
    ).where(F.col("fp_hash").isNotNull())
    if max_df is not None:
        df_counts = fp.groupBy("fp_hash").agg(
            F.count(F.lit(1)).alias("__df")
        )
        fp = (
            fp.join(df_counts.where(F.col("__df") <= max_df), "fp_hash")
            .select("doc_id", "fp_hash")
        )
    a = fp.select(F.col("doc_id").alias("id_a"), "fp_hash")
    b = fp.select(F.col("doc_id").alias("id_b"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def confusion_matrix(
    df: DataFrame, label_col: Column | str, pred_col: Column | str
) -> DataFrame:
    """Classifier evaluation: (label, predicted, n) confusion counts — the
    harness every heuristic filter (language ID, quality classifier, PII
    detector) is judged with before it gates a corpus.  One map-side-
    combined aggregate over the scored table; outputs are pure counts, so
    the cross-engine comparison is exact (derive precision/recall
    downstream — ratio columns invite engine-specific rounding at decimal
    boundaries)."""
    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    prd = F.col(pred_col) if isinstance(pred_col, str) else pred_col
    return df.groupBy(lab.alias("label"), prd.alias("predicted")).agg(
        F.count(F.lit(1)).alias("n")
    )
