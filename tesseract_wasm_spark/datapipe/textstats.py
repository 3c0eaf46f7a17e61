"""Text analysis operators over the documents table.

All pure built-in expressions (JVM-side, whole-stage codegen) — zero Python in
the hot path, so they scan-scale linearly: at 100 TB these are single-pass map
operators with full predicate/column pushdown into the parquet/Iceberg scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# marker stopwords per language for the n-gram/stopword language heuristic
LANG_MARKERS = {
    "en": r"\b(the|and|of|to|is|in|that|for|with)\b",
    "de": r"\b(der|die|das|und|ist|nicht|mit|ein|zu)\b",
    "fr": r"\b(le|la|les|et|est|une|des|dans|pour)\b",
    "es": r"\b(el|la|los|las|es|una|del|por|para)\b",
}

EN_STOPWORDS_RE = LANG_MARKERS["en"]
TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"  # BPE-ish pre-tokenizer classes
WS_RE = "\\s+"


def _count_matches(col, pattern: str):
    return F.size(F.regexp_extract_all(col, F.lit(pattern), 0))


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count per document."""
    txt = F.col("text")
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(txt), WS_RE)).alias("ws_tokens"),
        _count_matches(txt, TOKEN_RE).alias("bpe_tokens"),
        F.length(txt).alias("n_chars_computed"),
    )


def language_id(docs: DataFrame, *, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Marker-stopword language heuristic: count per-language marker hits,
    argmax with deterministic tie-break by language code. ``extra_cols``
    pass through (e.g. a block position for per-block classification)."""
    txt = F.lower(F.col("text"))
    scores = [
        _count_matches(txt, pat).alias(f"score_{lang}") for lang, pat in LANG_MARKERS.items()
    ]
    scored = docs.select("doc_id", "lang", *extra_cols, *scores)
    langs = list(LANG_MARKERS)
    # argmax via greatest + chained CASE (ties -> alphabetically first lang)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(sorted(langs)):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    return scored.withColumn("pred_lang", pred)


#: every char the punct-count class [^A-Za-z0-9\s] does NOT match (java \s
#: is the ASCII set [ \t\n\x0B\f\r]); see _punct_count
_NON_PUNCT_CHARS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    " \t\n\x0b\f\r"
)


def _punct_count(txt):
    """Count of chars matching [^A-Za-z0-9\\s] WITHOUT the regex engine:
    every match of that single-char class is one code point outside the
    62+6-char allowed set, so deleting the allowed chars (translate) and
    taking length gives the identical count (both sides count code points;
    java regex classes match per code point). r06: java-regex expressions
    measured ~11 MB/s on this environment AND serialize across tasks —
    translate+length run at memory speed and parallelize; parity-verified
    against the regex form (the DuckDB oracles still use the regex)."""
    return F.length(F.translate(txt, _NON_PUNCT_CHARS, ""))


def quality_cols(txt) -> dict:
    """Expression form of quality_score over a text column (composable —
    corpus_datasheet fuses these with gopher_cols into ONE scan)."""
    n_chars = F.length(txt)
    ws_tokens = F.size(F.split(F.trim(txt), WS_RE))
    punct = _punct_count(txt)
    stop = _count_matches(F.lower(txt), EN_STOPWORDS_RE)
    mean_tok_len = F.round(n_chars.cast("double") / F.greatest(ws_tokens, F.lit(1)), 6)
    punct_ratio = F.round(punct.cast("double") / F.greatest(n_chars, F.lit(1)), 6)
    stop_ratio = F.round(stop.cast("double") / F.greatest(ws_tokens, F.lit(1)), 6)
    score = F.round(
        F.least(F.lit(1.0), ws_tokens.cast("double") / 64.0) * 0.4
        + F.least(F.lit(1.0), stop_ratio * 4.0) * 0.3
        + (1.0 - F.least(F.lit(1.0), punct_ratio * 10.0)) * 0.3,
        6,
    )
    return {
        "n_chars_computed": n_chars, "ws_tokens": ws_tokens,
        "mean_token_len": mean_tok_len, "punct_ratio": punct_ratio,
        "stopword_ratio": stop_ratio, "quality": score,
    }


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic document-quality features + composite score (length, token
    shape, punctuation density, stopword ratio)."""
    cols = quality_cols(F.col("text"))
    return docs.select("doc_id", *[c.alias(n) for n, c in cols.items()])


ROLL_BASE = 257
ROLL_PRIME = (1 << 31) - 1


def rolling_fingerprints(docs: DataFrame) -> DataFrame:
    """Rabin-Karp polynomial rolling-hash fingerprints over normalized text.

    Vectorized per Arrow batch: the whole document's hash
    h = sum(c_i * B^(n-1-i)) mod p is one uint64 dot product against
    precomputed powers (31-bit prime keeps products in range). Equivalent
    to exact dedup, but O(1) to combine incrementally as documents
    append."""
    import numpy as np  # noqa: PLC0415
    from collections.abc import Iterator  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415
    import re  # noqa: PLC0415

    p = np.uint64(ROLL_PRIME)
    b = np.uint64(ROLL_BASE)

    _LO = 1024

    def _pow_tables(n: int) -> tuple[np.ndarray, np.ndarray]:
        """Two-level power table: B**k = hi[k >> 10] * lo[k & 1023] (mod p).
        Building cost is O(sqrt-ish) tiny loops; lookups are vectorized."""
        lo = np.empty(_LO, dtype=np.uint64)
        acc = np.uint64(1)
        for i in range(_LO):
            lo[i] = acc
            acc = (acc * b) % p
        n_hi = n // _LO + 2
        hi = np.empty(n_hi, dtype=np.uint64)
        step = acc  # B**_LO
        acc = np.uint64(1)
        for i in range(n_hi):
            hi[i] = acc
            acc = (acc * step) % p
        return hi, lo

    def _pow_at(tables, k: np.ndarray) -> np.ndarray:
        hi, lo = tables
        return (hi[k >> 10] * lo[k & (_LO - 1)]) % p

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # ONE concatenated buffer per Arrow batch (the _token_hashes_batch
        # pattern, dedup.py): for short-document corpora the per-document
        # Python/allocation overhead dominates, so all per-doc math below is
        # segmented numpy (reduceat) over the batch buffer — zero per-doc
        # Python beyond the normalize/encode step.
        tables = None
        for pdf in batches:
            texts = [
                re.sub(r"\s+", " ", (t or "").lower()).encode() for t in pdf["text"]
            ]
            counts = np.array([len(t) for t in texts], dtype=np.int64)
            buf = np.frombuffer(b"".join(texts), dtype=np.uint8).astype(np.uint64)
            out = np.zeros(len(counts), dtype=np.int64)  # empty docs stay 0
            nonempty = counts > 0
            if nonempty.any():
                if tables is None or (len(buf) >> 10) + 2 > len(tables[0]):
                    tables = _pow_tables(max(len(buf), 1 << 16))
                # h_d = sum(c_j * B^(end_d-1-j)) mod p: the concatenated
                # non-empty docs, each position's exponent counted back from
                # its own document's last byte
                lens = counts[nonempty]
                ends = np.cumsum(lens)
                k = np.repeat(ends - 1, lens) - np.arange(len(buf), dtype=np.int64)
                terms = buf * _pow_at(tables, k) % p
                out[nonempty] = (np.add.reduceat(terms, ends - lens) % p).astype(np.int64)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "rolling_fp": out},
                columns=["doc_id", "rolling_fp"],
            )

    from tesseract_wasm_spark.datapipe.dedup import _spread  # noqa: PLC0415

    return _spread(docs.select("doc_id", "text")).mapInPandas(
        run, "doc_id long, rolling_fp long"
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase text
    (dedup.text_digest_expr, the exact-dedup key; the Rabin-Karp
    rolling-hash variant is rolling_fingerprints)."""
    from tesseract_wasm_spark.datapipe.dedup import text_digest_expr  # noqa: PLC0415

    return docs.select(
        "doc_id", text_digest_expr(F.col("text")).alias("fingerprint")
    )


# --- PII redaction ----------------------------------------------------------

#: regexes are RE2-safe AND java.util.regex-safe (no lookaround, no
#: backreferences) so Spark and the DuckDB oracle agree byte-for-byte
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b(?:\d{1,3}\.)(?:\d{1,3}\.)(?:\d{1,3}\.)\d{1,3}\b"
PHONE_RE = r"\+?\d[\d\s().-]{7,}\d"


def redact_pii(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """PII scrubbing — the redaction stage of a training-data pipeline:
    emails, IPv4s and phone-shaped runs become typed placeholders. Order
    matters and is part of the contract (mirrored in the SQL twin): emails
    first (their digits must not feed the phone pattern), then IPs (dotted
    quads are phone-shaped), then phones; each count is taken on the text
    the previous stage produced. Pure single-pass expressions — at 100 TB
    this is a map over the scan with full column pruning."""
    t0 = F.col(text_col)
    t1 = F.regexp_replace(t0, EMAIL_RE, "<EMAIL>")
    t2 = F.regexp_replace(t1, IPV4_RE, "<IP>")
    t3 = F.regexp_replace(t2, PHONE_RE, "<PHONE>")
    return docs.select(
        "doc_id",
        t3.alias("clean_text"),
        F.size(F.regexp_extract_all(t0, F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(t1, F.lit(IPV4_RE), 0)).alias("n_ips"),
        F.size(F.regexp_extract_all(t2, F.lit(PHONE_RE), 0)).alias("n_phones"),
    )


# --- benchmark decontamination ----------------------------------------------


def contamination_flags(docs: DataFrame, benchmark_doc_ids: list[int],
                        *, n: int = 5) -> DataFrame:
    """Test-set decontamination: flag every document sharing an n-gram with
    the benchmark set. Scale shape: the benchmark's distinct shingles are a
    broadcast build side (benchmarks are small by definition); the corpus
    streams through one exploded equi-join — no quadratic stage, no corpus
    shuffle besides the per-doc hit count."""
    from tesseract_wasm_spark.datapipe.dedup import _word_ngrams  # noqa: PLC0415

    sh = _word_ngrams(F.col("text"), n)
    bench = (
        docs.filter(F.col("doc_id").isin(*benchmark_doc_ids))
        .select(F.explode(sh).alias("g"))
        .distinct()
    )
    hits = (
        docs.select("doc_id", F.explode(sh).alias("g"))
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("n_hits"))
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("int").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def repetition_cols(txt, *, flag_2gram: float = 0.2,
                    flag_3gram: float = 0.18,
                    flag_line: float = 0.3) -> dict:
    """Expression form of repetition_stats over a text column — composable
    into single-pass presets (corpus_filter_report) without joins."""
    toks = F.split(F.trim(F.lower(txt)), WS_RE)

    def dup_frac(n: int):
        grams = F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            ),
        ).otherwise(F.array())
        total = F.size(grams)
        return F.round(
            F.when(total > 0,
                   (total - F.size(F.array_distinct(grams))).cast("double") / total)
            .otherwise(F.lit(0.0)), 6)

    lines = F.split(txt, "\n")
    dup_line = F.round(
        (F.size(lines) - F.size(F.array_distinct(lines))).cast("double")
        / F.greatest(F.size(lines), F.lit(1)), 6)
    d2, d3 = dup_frac(2), dup_frac(3)
    return {
        "dup_2gram_frac": d2,
        "dup_3gram_frac": d3,
        "dup_line_frac": dup_line,
        "repetitive": (d2 > flag_2gram) | (d3 > flag_3gram)
                      | (dup_line > flag_line),
    }


def repetition_stats(docs: DataFrame, **thresholds) -> DataFrame:
    """Within-document repetition signals — the Gopher/MassiveText quality
    rules that catch keyword-stuffed and template-generated pages: fraction
    of duplicate word {2,3}-grams (1 - distinct/total occurrences) and
    fraction of duplicate lines, plus the combined ``repetitive`` flag at
    the classic thresholds. Pure array expressions (split + transform +
    array_distinct), whole-stage JVM end to end — a single-pass map at any
    scale; thresholds are arguments so a pipeline can tune per source."""
    cols = repetition_cols(F.col("text"), **thresholds)
    return docs.select("doc_id", *[c.alias(n) for n, c in cols.items()])


def gopher_cols(txt, *, min_words: int = 50, max_words: int = 100_000,
                min_mean_len: float = 3.0, max_mean_len: float = 10.0,
                min_alpha_frac: float = 0.8, max_symbol_ratio: float = 0.1,
                max_bullet_frac: float = 0.9,
                max_ellipsis_frac: float = 0.3) -> dict:
    """Expression form of gopher_rules over a text column (composable)."""
    toks = F.split(F.trim(txt), WS_RE)
    n_words = F.size(toks)
    safe_words = F.greatest(n_words, F.lit(1))
    mean_len = F.round(
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
        .cast("double") / safe_words, 6)
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    alpha_frac = F.round(alpha_words.cast("double") / safe_words, 6)
    symbols = _count_matches(txt, r"#|\.\.\.|…")
    symbol_ratio = F.round(symbols.cast("double") / safe_words, 6)
    lines = F.split(txt, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = F.round(
        F.size(F.filter(lines, lambda ln: ln.rlike(r"^\s*([-*•]|\d+[.)])\s")))
        .cast("double") / n_lines, 6)
    ellipsis_frac = F.round(
        F.size(F.filter(lines, lambda ln: ln.rlike(r"(\.\.\.|…)\s*$")))
        .cast("double") / n_lines, 6)
    keep = (
        (n_words >= min_words) & (n_words <= max_words)
        & (mean_len >= min_mean_len) & (mean_len <= max_mean_len)
        & (alpha_frac >= min_alpha_frac)
        & (symbol_ratio <= max_symbol_ratio)
        & (bullet_frac <= max_bullet_frac)
        & (ellipsis_frac <= max_ellipsis_frac)
    )
    return {
        "n_words": n_words, "mean_word_len": mean_len,
        "alpha_word_frac": alpha_frac, "symbol_ratio": symbol_ratio,
        "bullet_line_frac": bullet_frac, "ellipsis_line_frac": ellipsis_frac,
        "keep": keep,
    }


def gopher_rules(docs: DataFrame, **thresholds) -> DataFrame:
    """The Gopher/MassiveText document-quality rule bundle beyond the
    composite score: word count band, mean word length band, fraction of
    words containing an alphabetic character, symbol-to-word ratio (# and
    ellipses), bullet-started and ellipsis-ended line fractions — each as a
    column plus the combined ``keep`` verdict. Single-pass JVM expressions;
    every threshold is an argument (pipelines tune these per source)."""
    cols = gopher_cols(F.col("text"), **thresholds)
    return docs.select("doc_id", *[c.alias(n) for n, c in cols.items()])


#: sentence boundary: terminator run followed by whitespace — RE2-safe (no
#: lookbehind), shared verbatim with the DuckDB twin
SENTENCE_SPLIT_RE = r"[.!?]+\s+"


def sentences(docs: DataFrame) -> DataFrame:
    """Sentence segmentation: (doc_id, sent_pos, sentence) for every
    non-empty sentence — the granularity span-level dedup and decontamination
    run at. Terminator punctuation is dropped with the split (both engines
    agree); trailing terminators stay on the last sentence only if no
    whitespace follows. Pure expressions: split + posexplode."""
    parts = F.split(F.col("text"), SENTENCE_SPLIT_RE)
    return (
        docs.select("doc_id", F.posexplode(parts).alias("sent_pos", "sentence"))
        .filter(F.trim(F.col("sentence")) != "")
    )


def mojibake_stats(docs: DataFrame, *, max_bad_frac: float = 0.01) -> DataFrame:
    """Encoding-health signal over DECODED text: U+FFFD replacement
    characters (what a wrong-charset decode leaves behind — see
    webtext.decode_html_expr) and C1/control garbage per document, with a
    ``clean`` verdict. The downstream filter for charset-detection misses:
    at 100 TB you don't re-decode — you drop or re-route the tiny bad
    fraction this flags."""
    cols = mojibake_cols(F.col("text"), max_bad_frac=max_bad_frac)
    return docs.select("doc_id", *[c.alias(n) for n, c in cols.items()])


def mojibake_cols(txt, *, max_bad_frac: float = 0.01) -> dict:
    """Expression form of mojibake_stats over a text column (composable)."""
    n_chars = F.greatest(F.length(txt), F.lit(1))
    repl = _count_matches(txt, "�")
    ctrl = _count_matches(txt, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]")
    bad_frac = F.round((repl + ctrl).cast("double") / n_chars, 6)
    return {
        "n_replacement": repl, "n_control": ctrl,
        "bad_char_frac": bad_frac, "clean": bad_frac <= max_bad_frac,
    }


def unigram_logprob(docs: DataFrame, *, text_col: str = "text",
                    id_col: str = "doc_id", alpha: float = 0.5,
                    vocab: DataFrame | None = None) -> DataFrame:
    """Language-model quality proxy (the SQL-expressible analog of CCNet's
    KenLM-perplexity filter): score each document by the mean negative
    log2-probability of its tokens under the CORPUS's OWN Lidstone-smoothed
    unigram distribution. Gibberish / rare-token soup scores high; common
    prose scores low — the ranking CCNet cuts into head/middle/tail.

    Scale shape: one explode + groupBy(token) builds the vocabulary (token
    keys — no skew beyond stopwords, which map-side combine absorbs), the
    corpus totals ride a 1-row broadcast cross join, and the vocab joins
    back to the token stream (broadcast-able after a min-count prune at
    real scale; AQE picks the side). One final groupBy(doc) aggregate. No
    stage touches anything wider than (doc_id, token).

    Score is rounded to 4 decimals: the doc-level mean is a float sum whose
    association order differs between engines; 4 decimals leaves ~8 orders
    of magnitude of slack above the 1e-12 float noise.

    Self-contained form scans the text column once per derived stream
    (score tokens, vocabulary, totals — 3 scans; Catalyst does not dedup
    common subplans). At 100 TB pass a PERSISTED/precomputed ``vocab``
    ((token, cnt) — e.g. text_vocab's output written once) and the plan
    drops to the inherent single scoring scan plus the tiny vocab read."""
    from tesseract_wasm_spark.datapipe.dedup import _spread  # noqa: PLC0415

    txt = F.col(text_col)
    # r06: a single-file local read would tokenize/explode the whole corpus
    # in ONE task in every subtree below; _spread is a no-op on partitioned
    # cluster input. Each document's token stream stays contiguous and
    # in-order inside one partition, so the per-doc float-sum order (the
    # round(avg,4) sensitivity the docstring warns about) is unchanged.
    toks = _spread(docs).select(
        id_col,
        F.explode(F.split(F.trim(F.lower(txt)), WS_RE)).alias("token"),
    ).filter(F.col("token") != "")
    if vocab is None:
        vocab = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    totals = vocab.agg(
        F.sum("cnt").alias("n_total"), F.count("*").alias("v_size")
    )
    p = (F.col("cnt") + alpha) / (
        F.col("n_total") + alpha * (F.col("v_size") + 1)
    )
    # The vocab broadcast stays FORCED deliberately: a shuffle join on token
    # would scatter one document's tokens across partitions, changing the
    # per-doc float-sum order behind round(avg,4) — the exact last-ulp
    # nondeterminism this docstring warns about. At crawl scale callers must
    # pass a PRUNED persisted ``vocab`` (min-count cut keeps it far under
    # the 8 GB broadcast cap); the smoothed-floor treatment of the pruned
    # tail is the documented 100 TB path.
    return (
        toks.join(F.broadcast(vocab), "token")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(-F.log2(p)), 4).alias("nll_bits"),
        )
    )
