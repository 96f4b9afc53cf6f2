"""Text-analysis operators: token counting, quality scoring, language ID,
document fingerprinting.

Hot-path rule (learned in r1): Spark's *higher-order* functions
(``filter``/``transform`` with lambdas) are interpreted — no codegen — so a
"pure column expression" built from them is NOT the fast path. Marker-word
counting is therefore expressed as ``regexp_count`` over the
whitespace-padded text (JVM regex, whole-stage codegen), which is
token-exact: a token equals a marker iff the marker occurs bounded by
whitespace in the padded string. Fingerprinting (a 1-hash MinHash) is an
Arrow-vectorized map-only projection like operators/dedup.
"""

from __future__ import annotations

import hashlib
import os
import re

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# Tiny per-language stopword marker lists for the n-gram/stopword heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "et", "les", "des"],
    "zh": ["的", "是", "了", "在", "我"],
}


def _marker_token_count(txt_col, markers: list[str]):
    """Count tokens exactly equal to one of ``markers``.

    Token semantics match ``split(trim(x), '\\s+')``: pad the trimmed text
    with single spaces so every token is whitespace-bounded, then count
    non-overlapping ``(?<=\\s)(m1|m2|...)(?=\\s)`` matches. Lookarounds don't
    consume, so adjacent marker tokens ("of the") both count. Codegen'd JVM
    regex — replaces the interpreted ``F.filter`` lambda that pinned 10 s of
    CPU on 5k rows in r1."""
    # re.escape produces Java-compatible escapes for word/CJK tokens; guards
    # future markers containing regex metacharacters ('.', '|', '?').
    pat = r"(?<=\s)(?:" + "|".join(re.escape(m) for m in markers) + r")(?=\s)"
    padded = F.concat(F.lit(" "), F.trim(txt_col), F.lit(" "))
    return F.regexp_count(padded, F.lit(pat))


# GPT-2-flavored pre-tokenizer, restricted to constructs RE2 and Java regex
# implement identically (no lookahead; whitespace runs not counted as tokens):
# a token is an optionally space-prefixed letter run, digit run, or
# punctuation run.
BPE_SPLIT_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count, BPE-ish counts (a real pre-tokenizer regex
    match count plus the 4-chars/token rule of thumb), char length."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    word_chars = F.length(F.regexp_replace(F.col(text_col), r"[^0-9A-Za-z]", ""))
    return df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars_measured"),
        F.size(toks).alias("n_tokens"),
        F.regexp_count(F.col(text_col), F.lit(BPE_SPLIT_PATTERN)).cast("long").alias(
            "bpe_regex_tokens"
        ),
        F.ceil(word_chars / 4).cast("long").alias("est_bpe_tokens"),
        F.round(
            F.length(text_col) / F.greatest(F.size(toks), F.lit(1)), 4
        ).alias("avg_token_len"),
    )


def _half_up(x):
    return F.floor(x + F.lit(0.5)).cast("long")


def quality_score_col(txt: F.Column) -> F.Column:
    """The composite quality score (×10⁴) as ONE column expression over the
    text column — the join-free form consumers embed directly in a
    projection/filter (optimization r13: plans/curation.py's stage 1 used
    to JOIN :func:`quality_score`'s output back onto docs BY ID — a
    self-join that scanned the corpus twice and paid an exchange for a
    per-row expression). Identical arithmetic to :func:`quality_score`:
    same sub-expressions, same half-up integer scaling.

    n_punct is a ``translate`` length-diff, not a ``regexp_replace`` strip
    (optimization r14): deleting the six punctuation characters with a
    char-map and differencing lengths counts exactly the same characters
    the old ``[^.,;:!?]`` strip kept, without running a regex engine over
    every byte — raced −4% on the curation stage-1 subplan at 100×, tie at
    sf0.1, per-doc scores identical (tools/race_quality_kernel.py)."""
    n_chars = F.length(txt)
    toks = F.split(F.trim(txt), r"\s+")
    n_tokens = F.greatest(F.size(toks), F.lit(1))
    n_punct = n_chars - F.length(F.translate(txt, ".,;:!?", ""))
    stop_hits = _marker_token_count(txt, LANG_MARKERS["en"])
    punct_e4 = _half_up(n_punct * 10000.0 / F.greatest(n_chars, F.lit(1)))
    stop_e4 = _half_up(stop_hits * 10000.0 / n_tokens)
    len_component = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    return _half_up(
        (
            0.5 * len_component
            + 0.3 * F.least(stop_e4 / F.lit(2000.0), F.lit(1.0))
            + 0.2 * (1.0 - F.least(punct_e4 / F.lit(1000.0), F.lit(1.0)))
        )
        * 10000
    )


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic document-quality features + composite score:
    length band, punctuation ratio, stopword ratio.

    Ratios and the score are emitted as half-up-scaled INTEGERS (×10⁴) so the
    result is bit-identical across engines: each is a single correctly-rounded
    float op over exact integers followed by FLOOR(x+0.5). A natural [0,1]
    double view is trivially ``score_e4 / 1e4``."""
    txt = F.col(text_col)
    n_chars = F.length(txt)
    toks = F.split(F.trim(txt), r"\s+")
    n_tokens = F.greatest(F.size(toks), F.lit(1))
    # translate length-diff == regexp_replace-strip count, sans regex
    # engine (optimization r14; see quality_score_col)
    n_punct = n_chars - F.length(F.translate(txt, ".,;:!?", ""))
    stop_hits = _marker_token_count(txt, LANG_MARKERS["en"])

    half_up = _half_up
    punct_e4 = half_up(n_punct * 10000.0 / F.greatest(n_chars, F.lit(1)))
    stop_e4 = half_up(stop_hits * 10000.0 / n_tokens)
    len_component = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    score_e4 = half_up(
        (
            0.5 * len_component
            + 0.3 * F.least(stop_e4 / F.lit(2000.0), F.lit(1.0))
            + 0.2 * (1.0 - F.least(punct_e4 / F.lit(1000.0), F.lit(1.0)))
        )
        * 10000
    )
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars_measured"),
        F.size(toks).alias("n_tokens"),
        punct_e4.alias("punct_ratio_e4"),
        stop_e4.alias("stopword_ratio_e4"),
        score_e4.alias("quality_score_e4"),
    )


def _quality_kernel_fn(texts):
    """Arrow-batch quality score: the one-pass vectorized twin of
    :func:`quality_score_col` (guide §4.2 — hand whole batches to native
    code). Counts run in RE2/C++ (``pyarrow.compute``), the arithmetic in
    float64 op-for-op as the JVM expression writes it; per-doc values are
    IDENTICAL (pinned by test_quality_kernel_matches_expression and the
    curation oracles ×3 SFs, both store modes).

    Parity ledger (every count re-derived from the committed ASCII
    contract, same as the r13 top_ngrams combiner):

    - ``n_chars``: ``pc.utf8_length`` counts code points, as Spark
      ``length`` does.
    - ``n_tokens``: ``size(split(trim(x), '\\s+'))`` with Spark's
      limit=-1 semantics equals (whitespace-run count over the
      space-trimmed text) + 1 — leading/trailing non-space whitespace
      contributes an empty field in BOTH forms, and the empty string has
      one field. ``[ \\t\\n\\x0b\\f\\r]`` IS Java's ASCII ``\\s`` (RE2's
      own ``\\s`` lacks ``\\x0b``, so the class is spelled out).
    - ``n_punct``: one RE2 char-class count == the translate length-diff.
    - ``stop_hits``: the padded-lookaround marker count equals membership
      of the split tokens in the marker set (markers contain no
      whitespace; empty fields never match) — RE2 has no lookbehind, so
      the kernel splits and masks (``is_in`` + offset cumsum).
    - NULL text: every derived count is NULL, but Spark's ``least`` SKIPS
      null arguments, so the expression collapses to
      floor((0.5·least(NULL,1)=1 + 0.3·least(NULL,1)=1 +
      0.2·(1−least(NULL,1)=1)=0)·10⁴ + 0.5) — a CONSTANT, computed below
      with the identical float ops rather than hardcoded.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    ws = "[ \t\n\x0b\f\r]"
    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    valid = pc.is_valid(texts)
    safe = pc.fill_null(texts, "")
    n_chars = pc.utf8_length(safe).to_numpy(zero_copy_only=False).astype(np.int64)
    trimmed = pc.utf8_trim(safe, " ")  # Spark trim: spaces only
    n_tokens = (
        pc.count_substring_regex(trimmed, ws + "+")
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
        + 1
    )
    n_punct = (
        pc.count_substring_regex(safe, "[.,;:!?]")
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    toks = pc.split_pattern_regex(trimmed, ws + "+")
    markers = pa.array(LANG_MARKERS["en"], pa.string())
    flat = pc.list_flatten(toks)  # no null lists after fill_null
    hit = pc.is_in(flat, value_set=markers).to_numpy(zero_copy_only=False)
    off = toks.offsets.to_numpy().astype(np.int64)
    cs = np.zeros(len(flat) + 1, dtype=np.int64)
    np.cumsum(hit.astype(np.int64), out=cs[1:])
    stop_hits = cs[off[1:]] - cs[off[:-1]]
    # float64 arithmetic, op-for-op as quality_score_col builds it
    punct_e4 = np.floor(n_punct * 10000.0 / np.maximum(n_chars, 1) + 0.5)
    stop_e4 = np.floor(stop_hits * 10000.0 / np.maximum(n_tokens, 1) + 0.5)
    len_component = np.minimum(n_chars / 500.0, 1.0)
    score = np.floor(
        (
            0.5 * len_component
            + 0.3 * np.minimum(stop_e4 / 2000.0, 1.0)
            + 0.2 * (1.0 - np.minimum(punct_e4 / 1000.0, 1.0))
        )
        * 10000
        + 0.5
    ).astype(np.int64)
    null_score = int(np.floor((0.5 * 1.0 + 0.3 * 1.0 + 0.2 * (1.0 - 1.0)) * 10000 + 0.5))
    return pc.if_else(
        valid, pa.array(score, pa.int64()), pa.scalar(null_score, pa.int64())
    )


def quality_score_kernel_col(txt: F.Column) -> F.Column:
    """:func:`quality_score_col` as ONE vectorized Arrow kernel
    (``arrow_udf`` over :func:`_quality_kernel_fn`) — the large-corpus
    serving shape (optimization r14, guide §4.2): the JVM expression runs
    THREE passes over every byte (regex split for the token count, a
    punctuation scan, a lookaround marker-regex scan); the kernel ships the
    text to the Python worker once and runs RE2 counts + a vectorized
    membership mask. Raced on the curation stage-1+2 subplan
    (tools/race_quality_kernel.py, alternating, per-doc scores asserted
    identical first): 100× (1.2 GiB) 2.61 → 1.43 s (−45%, every run), 10×
    0.49 → 0.46 s, sf0.1 (17 MiB) 0.22 → 0.31 s — the fixed Python
    round-trip only amortizes past ~100 MiB, so consumers size-gate
    (plans/catalog_llm.py::_quality_kernel_gate) and the expression form
    stays the small-input / streaming-micro-batch default."""
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import LongType

    return arrow_udf(_quality_kernel_fn, LongType())(txt)


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-word language ID: count hits per language's marker list over the
    token set; predict the argmax (ties broken by language code order, 'en'
    default when all zero). Deterministic, expressible in ANSI SQL."""
    lowered = F.lower(F.col(text_col))
    hit_cols = {
        lang: _marker_token_count(lowered, markers)
        for lang, markers in LANG_MARKERS.items()
    }
    out = df.select(F.col(id_col), *[c.alias(f"hits_{k}") for k, c in hit_cols.items()])
    # argmax via chained comparisons in fixed language order (deterministic)
    langs = sorted(LANG_MARKERS)
    best = F.lit("en")
    best_hits = F.lit(0)
    for lang in langs:
        cond = F.col(f"hits_{lang}") > best_hits
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_hits = F.when(cond, F.col(f"hits_{lang}")).otherwise(best_hits)
    return out.withColumn("predicted_lang", best).select(id_col, "predicted_lang")


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Winnowing-lite document fingerprint: minimum 60-bit hash over the
    document's word 4-gram shingles (a 1-hash MinHash). Equal fingerprints ⇒
    high shingle overlap candidates. Returns (id, fingerprint)."""
    @pandas_udf("long")
    def _fp(texts: pd.Series) -> pd.Series:
        def one(t):
            if t is None:
                return None
            w = t.split(" ")
            # shingle window semantics: full 4-grams; docs shorter than 4
            # words contribute their single (partial) shingle
            shingles = (
                " ".join(w[i : i + 4]) for i in range(max(len(w) - 3, 1))
            )
            return min(
                int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in shingles
            )

        return texts.map(one)

    from satsure_agri_datapipeline_spark.operators.dedup import _repartitioned

    return (
        _repartitioned(df, id_col)
        .select(F.col(id_col), _fp(F.col(text_col)).alias("fingerprint"))
        # null-text docs produce no shingles — drop them like the relational
        # form (and the simhash/minhash siblings) so row counts agree
        .where(F.col("fingerprint").isNotNull())
    )


def normalize_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Canonical text normalization for dedup/tokenizer input: lowercase,
    strip non-alphanumerics (explicit ASCII classes — ``\\w`` semantics vary
    by regex engine), collapse runs of whitespace, trim. Map-only codegen'd
    JVM regex. Returns (id, norm_text, n_tokens_norm)."""
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), r"[^0-9a-z\s]", ""),
            r"\s+",
            " ",
        )
    )
    n_tokens = F.when(
        F.length(cleaned) > 0, F.size(F.split(cleaned, " "))
    ).otherwise(F.lit(0))
    return df.select(
        F.col(id_col),
        cleaned.alias("norm_text"),
        n_tokens.cast("long").alias("n_tokens_norm"),
    )


# Engine-portable PII patterns: no lookarounds, no \w / \b (Java regex and
# RE2 agree on these explicit classes).
PII_PATTERNS: dict[str, str] = {
    "<EMAIL>": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+",
    "<PHONE>": r"\+?[0-9][0-9() .-]{7,}[0-9]",
    "<IP>": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Rule-based PII redaction (emails, phone-like digit runs, IPv4) — the
    pattern-scrub pass every public-corpus pipeline runs before training.
    Chained ``regexp_replace`` — map-only, codegen'd, ~scan speed. Returns
    (id, redacted_text, n_redactions). Order matters: IPs redact before
    phones would otherwise swallow them."""
    out = F.col(text_col)
    for token, pat in [
        ("<EMAIL>", PII_PATTERNS["<EMAIL>"]),
        ("<IP>", PII_PATTERNS["<IP>"]),
        ("<PHONE>", PII_PATTERNS["<PHONE>"]),
    ]:
        out = F.regexp_replace(out, pat, token)
    n_red = (
        F.regexp_count(out, F.lit("<EMAIL>"))
        + F.regexp_count(out, F.lit("<IP>"))
        + F.regexp_count(out, F.lit("<PHONE>"))
    )
    return df.select(
        F.col(id_col),
        out.alias("redacted_text"),
        n_red.cast("long").alias("n_redactions"),
    )


def corpus_mix_report(
    df: DataFrame, group_cols: list[str] | None = None, text_col: str = "text"
) -> DataFrame:
    """Training-mix report: per (lang, source) document and token counts with
    each cell's token share of the corpus — what a data-mixture config is
    tuned against. One hash aggregate + a single-partition window over the
    O(groups) aggregate rows (never over data rows). Share emitted as a
    half-up ×10⁶ integer for cross-engine hashing."""
    group_cols = group_cols or ["lang", "source"]
    toks = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).alias("n_tokens"),
    )
    total = Window.partitionBy()
    return agg.select(
        *group_cols,
        "n_docs",
        "n_tokens",
        F.floor(
            F.col("n_tokens") * 1_000_000.0 / F.sum("n_tokens").over(total)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("token_share_e6"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    standard pre-tokenization chunking step for training-data pipelines.

    Windows start every ``stride = chunk_tokens − overlap`` tokens; the last
    window may be short; a doc shorter than one window yields one chunk.
    Returns (id, chunk_idx, n_chunk_tokens, chunk_text).

    Pure JVM expressions: ``split`` → one ``sequence``+``explode`` per doc
    sized by its own token count (a flatMap — no shuffle, no UDF), ``slice``
    + ``array_join`` to materialize the window. Output row count is
    Σ ceil((tokens−overlap)/stride) — linear in corpus token count, the same
    scan-shaped cost profile as the tokenizer that consumes it."""
    if overlap >= chunk_tokens:
        raise ValueError(f"overlap={overlap} must be < chunk_tokens={chunk_tokens}")
    stride = chunk_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(float(stride))).cast("int"), F.lit(1)
    )
    window = F.slice(
        F.col("__toks"), F.col("chunk_idx") * stride + 1, chunk_tokens
    )
    return (
        df.select(
            F.col(id_col),
            toks.alias("__toks"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            F.col(id_col),
            "chunk_idx",
            F.size(window).alias("n_chunk_tokens"),
            F.array_join(window, " ").alias("chunk_text"),
        )
    )


def top_ngrams(
    df: DataFrame,
    n: int = 2,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    combiner: bool = True,
) -> DataFrame:
    """Corpus-level top-k word n-grams by document frequency — vocabulary /
    boilerplate mining. Returns (ngram, n_docs, n_occurrences) ordered by
    n_docs desc with a deterministic ngram tiebreak.

    Default shape (optimization r13, ``combiner=True``): a per-task
    ``mapInArrow`` combiner — tokenize each document once in the Python
    worker, accumulate per-task (ngram → docs, occurrences) partials, and
    emit one partial row per distinct ngram per FLUSH WINDOW (r14: the
    partial map drains whenever it crosses a distinct-gram bound, so
    per-task state is O(bound) instead of O(task vocabulary); duplicate
    gram rows across flushes are absorbed by the aggregate); the only
    shuffle is the final ``groupBy(ngram).agg(sum, sum)`` over those
    partials. This
    is the classic word-count combiner with the document-frequency count
    folded in, legal because every document is exactly ONE input row, so a
    per-task `set(grams)` per row IS a distinct-per-doc count — problem
    knowledge the optimizer cannot derive (it would need to prove
    ``id_col`` unique). It deletes both heavy plan features of the
    expression form at once: the gram-row explode (corpus token count × n
    rows through a Generate) and the ``countDistinct`` Expand (which
    doubles those rows again through the exchange). PRECONDITION: one row
    per document (the documents-table contract; a caller with duplicate
    ``id_col`` rows would double-count n_docs — use ``combiner=False``).
    Tokenization parity with the JVM form is byte-exact and tested:
    Python ``[ \\t\\n\\x0b\\f\\r]+`` splitting IS Java ``\\s+`` (ASCII
    class), ``strip(" ")`` IS Spark ``trim`` (spaces only), and
    leading/trailing empty split fields match Spark's limit=-1 semantics.
    Raced at sf0.1 (5 runs, alternating, noop sink): expression form
    4.68 s → combiner 0.94 s (−80%), identical rows.

    ``combiner=False`` — the pure-expression twin (the correctness
    cross-check and the duplicate-id fallback): flatMap (split +
    gram-array + explode_outer, no UDF) → ``countDistinct`` aggregate →
    TakeOrderedAndProject. r13-opt fix over the r13-build form: the gram
    array is built from a ``__toks`` column PROJECTED IN ITS OWN SELECT,
    not inlined — lambda bodies are excluded from codegen subexpression
    elimination, so the inlined ``slice(split(trim(text)), i, n)`` re-ran
    the full split PER GRAM (O(tokens²) per doc; the §4.4 trap-1 shape a
    third time, now inside the HOF). CollapseProject keeps the multi-use
    non-cheap split out of the consuming projection (SPARK-36718), so it
    evaluates once per document. Raced: 4.68 s → 2.05 s (−56%); the
    combiner beats both.

    At 100 TB the combiner is the right shape outright: one corpus scan,
    text never crosses a shuffle, partial-map size is bounded by the
    flush threshold (r14; Heaps' law bounds it further on clean text),
    and the single exchange carries
    (ngram, two longs) rows — no ``max_df`` cap needed because aggregate
    output is bounded by distinct-ngram cardinality, not corpus size."""
    if combiner:
        import pyarrow as pa

        out_schema = pa.schema(
            [("ngram", pa.string()), ("pd", pa.int64()), ("po", pa.int64())]
        )
        # Per-task combiner state bound (optimization r14, VERDICT r13
        # "what's wrong" #2 / guide §5): the r13 combiner held EVERY
        # distinct gram of the task's partition in one Python dict until
        # task end and emitted one giant RecordBatch — Heaps'-law bounded,
        # but a multi-GB dict on 100 TB-class tasks with dirty text. Flush
        # the partials whenever the map crosses this many distinct grams:
        # emitting the same gram from several flushes is correct by
        # construction (the downstream aggregate SUMs partials — that a
        # task contributes one partial row per gram was never load-bearing,
        # only per-DOC distinctness is, and a doc never spans a flush).
        # 2^21 grams ≈ a few hundred MB peak dict — comfortably inside a
        # worker, far above any real per-task vocabulary at healthy input
        # split sizes. SPARK_GRAFT_TOP_NGRAMS_FLUSH overrides (tests pin
        # the flush path with a tiny value).
        flush_at = int(os.environ.get("SPARK_GRAFT_TOP_NGRAMS_FLUSH", str(1 << 21)))

        def partial_counts(batches):
            from collections import Counter

            ws = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s (ASCII class)
            docs_c: Counter = Counter()
            occ_c: Counter = Counter()

            def drain():
                batch = pa.record_batch(
                    [
                        pa.array(list(docs_c.keys()), pa.string()),
                        pa.array(list(docs_c.values()), pa.int64()),
                        pa.array([occ_c[g] for g in docs_c], pa.int64()),
                    ],
                    schema=out_schema,
                )
                docs_c.clear()
                occ_c.clear()
                return batch

            for batch in batches:
                for text in batch.column(0).to_pylist():
                    if text is None:
                        continue
                    w = ws.split(text.strip(" "))  # Spark trim: spaces only
                    if len(w) < n:
                        continue
                    grams = [
                        " ".join(w[i : i + n]) for i in range(len(w) - n + 1)
                    ]
                    occ_c.update(grams)
                    docs_c.update(set(grams))
                    if len(docs_c) >= flush_at:
                        yield drain()
            if docs_c:
                yield drain()

        partials = df.select(text_col).mapInArrow(
            partial_counts, "ngram string, pd long, po long"
        )
        return (
            partials.groupBy("ngram")
            .agg(F.sum("pd").alias("n_docs"), F.sum("po").alias("n_occurrences"))
            .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), "ngram")
            .limit(k)
        )
    toks_df = df.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks")
    )
    toks = F.col("__toks")
    gram_arr = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = toks_df.select(
        F.col(id_col), F.explode_outer(gram_arr).alias("ngram")
    ).where(F.col("ngram").isNotNull())
    return (
        grams.groupBy("ngram")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), "ngram")
        .limit(k)
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    exploded: DataFrame | None = None,
    bench_exploded: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination — flag training documents that share at
    least ``min_hits`` distinct word n-grams with a benchmark/eval corpus
    (the standard leakage guard before LLM training; 8-13 gram overlap is
    the usual published criterion).

    Returns (id, n_hits) for contaminated docs only; clean docs are absent
    (callers anti-join to drop, or left-join to annotate).

    Scale shape: both sides reduce to distinct 60-bit shingle hashes (the
    dedup operators' Arrow path — text never shuffles). The benchmark side
    is distinct-ed and is typically small (eval sets are thousands of docs,
    not billions) so its hash set broadcast-joins against the exploded
    train shingles; the only wide shuffle is the per-doc hit count keyed by
    ``id_col``. With a huge benchmark AQE falls back to a shuffle join on
    the hash — still never all-pairs.

    ``exploded`` (r12): a pre-exploded ``(id, sh)`` train-side relation —
    the bucketed n-gram shingle store (same n/word/seed=0) — replaces the
    per-run train shingling, which the r12 1000× curation profile measured
    as the pipeline's single largest stage (3,518 executor-seconds of
    4-gram hashing). The caller owns restricting it to ``train``'s rows;
    a SUPERSET of ids is safe for anti-join consumers (extra contaminated
    ids not in the left side simply never match) but changes the result
    of direct/annotate consumers.
    """
    from satsure_agri_datapipeline_spark.operators.dedup import shingle_hash_arrays

    if bench_exploded is not None:
        # Optimization r13: a pre-exploded (id, sh) relation for the
        # BENCHMARK side — when the benchmark is a slice of the corpus the
        # standing decon store covers, the caller restricts the store to
        # the benchmark ids instead of paying a full corpus scan + per-run
        # n-gram hashing just to extract the slice's hashes. Must be the
        # benchmark's EXACT id set (unlike ``exploded``, a superset is NOT
        # safe here: extra docs' shingles would join as false hits).
        bench_sh = bench_exploded.select("sh").distinct()
    else:
        bench_sh = (
            shingle_hash_arrays(benchmark, n=n, text_col=text_col, id_col=id_col)
            .select(F.explode_outer("shs").alias("sh"))
            .where(F.col("sh").isNotNull())
            .distinct()
        )
    if exploded is not None:
        train_rel = exploded.select(F.col(id_col), "sh")
    else:
        # explode_OUTER + null filter, not plain explode:
        # InferFiltersFromGenerate would push size(shs) > 0 below with the
        # whole shingle expression alias-substituted, computing the n-gram
        # arrays twice per row (the r11 span-hash lesson; the filter on the
        # GENERATED column cannot sink)
        train_sh = shingle_hash_arrays(
            train, n=n, text_col=text_col, id_col=id_col
        )
        train_rel = train_sh.select(
            F.col(id_col), F.explode_outer("shs").alias("sh")
        ).where(F.col("sh").isNotNull())
    hits = (
        train_rel.join(bench_sh, "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .where(F.col("n_hits") >= min_hits)
    )
    return hits


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_token_max: float = 0.20,
    dup_bigram_max: float = 0.50,
) -> DataFrame:
    """Gopher/C4-style repetition quality signals per document:

    - ``n_tokens``;
    - ``distinct_ratio_e4``  — distinct tokens / tokens (×10⁴ half-up);
    - ``top_token_ratio_e4`` — most frequent token's share;
    - ``dup_bigram_ratio_e4``— 1 − distinct bigrams / bigrams;
    - ``repetitive``         — true when top-token share or duplicate-bigram
      share exceed the (Gopher-flavored) thresholds.

    Shape: tokens explode with position, bigrams come from a ``lead`` over
    the in-doc position (no interpreted higher-order functions in the hot
    path), and everything aggregates back keyed by ``id_col`` — one
    repartition serves the window and both aggregates. Counts are exact
    integers; ratios are emitted as half-up ×10⁴ ints (oracle-stable).
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("pos", "tok"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    with_next = toks.withColumn("nxt", F.lead("tok").over(w))

    per_tok = with_next.groupBy(id_col, "tok").agg(
        F.count(F.lit(1)).alias("c"),
        F.count_distinct(F.when(F.col("nxt").isNotNull(), F.concat_ws(" ", "tok", "nxt"))).alias(
            "d_bi"
        ),
        F.sum(F.when(F.col("nxt").isNotNull(), 1).otherwise(0)).alias("n_bi"),
    )
    e4 = lambda x: F.floor(x * 10000 + F.lit(0.5)).cast("long")  # noqa: E731
    agg = per_tok.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_c"),
        F.sum("d_bi").alias("d_bigrams"),
        F.sum("n_bi").alias("n_bigrams"),
    )
    return agg.select(
        F.col(id_col),
        F.col("n_tokens"),
        e4(F.col("n_distinct") / F.col("n_tokens")).alias("distinct_ratio_e4"),
        e4(F.col("top_c") / F.col("n_tokens")).alias("top_token_ratio_e4"),
        F.when(F.col("n_bigrams") > 0, e4(1 - F.col("d_bigrams") / F.col("n_bigrams")))
        .otherwise(F.lit(0))
        .alias("dup_bigram_ratio_e4"),
        (
            (F.col("top_c") / F.col("n_tokens") > F.lit(top_token_max))
            | (
                (F.col("n_bigrams") > 0)
                & (1 - F.col("d_bigrams") / F.col("n_bigrams") > F.lit(dup_bigram_max))
            )
        ).alias("repetitive"),
    )


def span_udtf():
    """Python UDTF (PySpark ≥3.5 table-function surface, SURVEY §2.11):
    split a document into sentence-ish spans with char offsets — the shape
    a chunker/annotator plugin would use when its logic genuinely can't be
    a column expression.

    This is the EXTENSION POINT demo, deliberately not used by the hot-path
    operators: row-at-a-time Python is the slow path (chunk_documents does
    the same job with codegen'd expressions); reach for a UDTF only when
    per-row logic needs real Python (external tokenizers, parsers).

    Usage::

        SpanUDTF = span_udtf()
        spark.udtf.register("doc_spans", SpanUDTF)
        spark.sql("SELECT s.* FROM docs, LATERAL doc_spans(doc_id, text) s")
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: long, span_no: int, start: int, length: int, span: string")
    class SpanUDTF:
        def eval(self, doc_id: int, text: str):  # noqa: D102
            if not text:
                return
            start = 0
            span_no = 0
            n = len(text)
            for i, ch in enumerate(text):
                if ch in ".!?" or i == n - 1:
                    end = i + 1
                    chunk = text[start:end].strip()
                    if chunk:
                        yield doc_id, span_no, start, end - start, chunk
                        span_no += 1
                    start = end

    return SpanUDTF


def tf_idf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k distinguishing terms by TF-IDF — the standard
    keyword-extraction / topic-surfacing pass over a corpus.

    The score uses a *scaled-integer linear idf*:
    ``score_ppm = (tf * 1_000_000 * n_docs) div df_docs`` (BIGINT division),
    monotonic in tf and in 1/df like log-idf but exactly reproducible across
    engines — no floating-point ``ln`` whose last-ulp differences could flip
    top-k ties between runtimes. Ties break on term for determinism.

    Scale shape: tokenization is a codegen'd flatMap (split + explode, no
    UDF); term frequencies are one hash aggregate keyed by (doc, term) with
    map-side partial aggregation; document frequencies re-aggregate the
    (already distinct) tf relation keyed by term — vocabulary-bounded, far
    smaller than the corpus; the idf join shuffles on term; the corpus size
    joins in as a broadcast 1-row aggregate (never a driver collect). The
    final top-k is one window per doc. At 100 TB add a stop-term cap
    (drop df_docs > max_df) before the join — same pattern as
    ``max_shingle_df`` in the dedup operators.
    """
    base = df.where(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(F.col(id_col), F.lower(F.trim(F.col(text_col))).alias("__t"))
    toks = base.select(id_col, F.explode(F.split("__t", r"\s+")).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    n_total = base.agg(F.count(F.lit(1)).alias("n_total"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_total))
        .withColumn("score_ppm", F.expr("(tf * 1000000L * n_total) div df_docs"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score_ppm"), "term")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(id_col, "term", "tf", "df_docs", "score_ppm")
    )


def domain_mix_weights(
    df: DataFrame,
    group_cols: list[str] | None = None,
    temperature: float = 2.0,
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled domain sampling weights — the corpus-reweighting
    step of multi-domain training-data mixing (public recipe from
    multilingual-LM sampling: weight ∝ share^(1/T)). T=1 reproduces natural
    token shares; T→∞ approaches uniform; T=2 (the common default) takes
    the square root, damping head domains and boosting the tail.

    Weights are emitted as half-up ×10⁶ integers. With T=2 the power is
    ``sqrt`` — both engines' IEEE-correctly-rounded sqrt keeps the rounded
    ratio engine-portable (same contract as the centroid-norm queries).

    Scale shape: one hash aggregate over the corpus (map-side combined),
    then window math over the O(domains) aggregate rows only.
    """
    group_cols = group_cols or ["lang", "source"]
    toks = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).alias("n_tokens"),
    )
    total = Window.partitionBy()
    scaled = F.pow(F.col("n_tokens").cast("double"), 1.0 / temperature)
    return agg.select(
        *group_cols,
        "n_docs",
        "n_tokens",
        F.floor(scaled * 1_000_000.0 / F.sum(scaled).over(total) + F.lit(0.5))
        .cast("long")
        .alias("weight_e6"),
    )


def build_vocab(
    df: DataFrame,
    vocab_size: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary: the ``vocab_size`` most frequent whitespace tokens,
    assigned dense ids 1..N by (count DESC, token ASC) — the deterministic
    tie-break makes the id assignment a pure function of the corpus.

    Shape: explode → hash-aggregate counts (map-side partials do the heavy
    lifting: the shuffled relation is one row per *distinct* token, not per
    occurrence) → single ``TakeOrderedAndProject``-style top-N via a
    row_number window. The window's single-partition sort sees only distinct
    tokens; for web-scale vocabularies pre-filter with a minimum count so the
    ranked relation stays bounded (Zipf: a floor of a few hundred occurrences
    caps it at ~millions of rows).
    """
    counts = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok"))
    return (
        counts.withColumn("tok_id", F.row_number().over(w))
        .where(F.col("tok_id") <= vocab_size)
        .select("tok", "tok_id", "cnt")
    )


def encode_ids(
    df: DataFrame,
    vocab: DataFrame,
    max_len: int = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode each document's first ``max_len`` tokens to vocabulary ids
    (out-of-vocabulary → 0), emitted as a comma-joined string — the
    tokenize-to-ids step every LM data pipeline runs before packing.

    The vocab is a broadcast dimension (bounded by construction), so encoding
    is scan → posexplode (capped at ``max_len`` rows/doc) → broadcast-hash
    join → re-agg keyed by doc id. Nothing shuffles except (doc_id, pos, id)
    triples.
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.slice(F.split(F.col(text_col), " "), 1, max_len)).alias(
            "pos", "tok"
        ),
    )
    encoded = (
        toks.join(F.broadcast(vocab.select("tok", "tok_id")), "tok", "left")
        .withColumn("tid", F.coalesce(F.col("tok_id"), F.lit(0)))
        .groupBy(id_col)
        .agg(
            F.sort_array(F.collect_list(F.struct("pos", "tid"))).alias("__pt"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )
    return encoded.select(
        F.col(id_col),
        F.concat_ws(
            ",", F.transform(F.col("__pt"), lambda s: s.getField("tid").cast("string"))
        ).alias("token_ids"),
        "n_tokens",
    )


def inverted_index(
    df: DataFrame,
    top_tokens: int = 50,
    max_postings: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bounded inverted-index build: for the ``top_tokens`` highest-document-
    frequency tokens, the first ``max_postings`` doc ids (ascending) as a
    posting list, plus the full document frequency.

    Every stage is bounded BEFORE any per-token collection: distinct
    (token, doc) pairs → df counts (map-side partials) → top-N tokens by
    (df DESC, token ASC) → per-token ``row_number`` caps the posting list at
    ``max_postings`` rows *before* the ``collect_list``, so no unbounded
    per-group state ever materializes — the discipline an inverted index
    over a 100 TB corpus requires (full posting lists would be written
    partitioned by token range, not collected).

    r8: the (token, doc) dedup happens MAP-SIDE via ``array_distinct``
    per document — each doc then contributes each token exactly once, so
    the relation is globally distinct by construction and the old
    post-explode ``.distinct()`` (a full shuffle of every exploded pair,
    the operator's dominant cost and its super-linear wall once the
    shuffle outgrew memory: 5.3 s → 88.4 s across 100×→1000×) is gone.
    The remaining shuffles are the map-side-combined df count and the
    bounded posting window.

    r10: the top-N token selection is ``orderBy(...).limit(n)`` — Spark
    plans TakeOrderedAndProject, a DISTRIBUTED per-partition top-N +
    driver merge of n-row heaps. The previous unpartitioned
    ``row_number`` window funneled the ENTIRE vocabulary through one
    task (a web-scale corpus has billions of distinct tokens; the df
    aggregate's output is vocabulary-sized even though this query's
    answer is 50 rows).
    """
    toks = F.array_distinct(
        F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    )
    pairs = df.select(F.col(id_col), F.explode(toks).alias("tok"))
    dfreq = pairs.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    top = dfreq.orderBy(F.col("df").desc(), F.col("tok")).limit(top_tokens)
    w_post = Window.partitionBy("tok").orderBy(F.col(id_col))
    ranked = (
        pairs.join(F.broadcast(top.select("tok", "df")), "tok")
        .withColumn("__rn", F.row_number().over(w_post))
        .where(F.col("__rn") <= max_postings)
    )
    return (
        ranked.groupBy("tok")
        .agg(
            F.first("df").alias("df"),
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("__rn", id_col))),
                    lambda s: s.getField(id_col).cast("string"),
                ),
            ).alias("postings"),
        )
        .select("tok", "df", "postings")
    )


def collocations(
    df: DataFrame,
    min_count: int = 5,
    top_n: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Collocation mining by integer lift: score adjacent-token bigrams with
    ``floor(c_ab * 1e6 / (c_a * c_b))`` — monotone in PMI for a fixed corpus
    (the corpus-size terms are rank-invariant constants), but computed in
    EXACT integer arithmetic, so scores are identical in any engine (a
    log-based PMI would inherit libm rounding differences).

    Bigrams come from one pass of ``zip_with`` over the token array with its
    own tail (map-side, no explode of overlapping windows); unigram counts
    join back onto the bigram aggregate (AQE broadcasts while the
    vocabulary fits — it is unbounded at corpus scale, so no forced hint).
    ``min_count`` prunes the long tail before ranking, the standard Zipf
    guard.
    """
    toks = F.split(F.col(text_col), " ")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    uni = (
        df.select(F.explode(toks).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi = (
        df.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= min_count)
    )
    parts = F.split(F.col("bigram"), " ")
    scored = (
        bi.withColumn("__a", parts.getItem(0))
        .withColumn("__b", parts.getItem(1))
        # no broadcast hint: the unigram vocabulary is UNBOUNDED at corpus
        # scale (100M+ distinct tokens on web text) — AQE broadcasts it at
        # runtime while it actually fits, else both sides shuffle on tok
        .join(uni.withColumnRenamed("c", "c_a"), F.col("__a") == F.col("tok"))
        .drop("tok")
        .join(
            uni.withColumnRenamed("c", "c_b"), F.col("__b") == F.col("tok")
        )
        .drop("tok")
        .withColumn(
            "lift_e6",
            F.expr("c_ab * 1000000L div (c_a * c_b)"),
        )
    )
    w = Window.orderBy(F.col("lift_e6").desc(), F.col("bigram"))
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= top_n)
        .select("bigram", "c_ab", "c_a", "c_b", "lift_e6", F.col("__r").alias("rank"))
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    stats: DataFrame | None = None,
) -> DataFrame:
    """BM25 lexical retrieval: the top-``k`` documents for a bag-of-words
    query — the keyword-search half of a hybrid (lexical + vector) RAG
    retrieval stack, next to :mod:`similarity`'s ANN family.

    Per matched (doc, term):
    ``idf_w * (tf*(k1+1)) / (tf + k1*((1-b) + b*(dl/avgdl)))`` with the
    *log-free rational idf* ``idf_w = (N - df + 0.5) / (df + 0.5)`` — the
    quantity whose ``ln`` is the classic Robertson idf. The log is dropped
    deliberately: engine ``ln`` implementations are not correctly-rounded
    (libm vs JDK differ in the last ulp), while +,-,*,/ on doubles derived
    from the same integers are bit-identical everywhere — the same
    determinism contract as the scaled-integer idf in
    :func:`tf_idf_top_terms`. Per-term ordering is identical to log-BM25;
    inter-term mixing weights rare terms more sharply (documented variant).

    Determinism of the per-doc SUM: a groupBy ``SUM(double)`` is
    order-sensitive, so the query-term scores are pivoted to one column per
    term (``MAX(CASE WHEN term=t)`` — at most one row per (doc, term)) and
    added in FIXED left-to-right query order. The float expressions keep
    literal shape ``(k1 + 1.0)`` / ``(1.0 - b)`` so both engines parse the
    same decimal literals instead of folding them differently.

    Scale shape: one corpus scan tokenizes, measures dl, and produces the
    tf relation — filtered to the query terms BEFORE any aggregate, so
    every shuffle after the scan is bounded by docs-that-match, not corpus
    size. Document frequencies are a COUNT window over the tf relation's
    term partitions (≤ |terms| partitions of matched-doc size) — NOT a
    groupBy-plus-join back onto tf: Catalyst does not share subplans, so
    the join form re-scanned and re-tokenized the whole corpus for the
    dfreq branch (visible as a second Scan+Generate subtree in the
    physical plan). The corpus-wide N/total-token aggregate is the one
    remaining second scan (it needs unmatched docs too) and broadcasts as
    one row — unless ``stats`` serves it (the postings themselves would
    come from an inverted index partitioned by term range,
    :func:`inverted_index`'s discipline).

    ``stats`` (optimization r14, VERDICT r13 item 3): the standing per-doc
    token-stats relation ``(doc_id, dl)`` from
    ``sources/token_stats_store.py`` — built with the same filter and
    token count as this leg, fingerprint-fresh or not served. When given,
    N/total_tokens aggregate over the 16-byte-per-doc relation instead of
    re-tokenizing the corpus: the retrieval family's LAST full-corpus text
    scan becomes a statistics read. The tf leg keeps computing ``dl``
    inline — it already splits the matched sliver's text for the explode,
    so a dl-join would add an exchange to save nothing. The store is
    derived from the ``text``/``doc_id`` columns, so ``stats`` requires
    those default names and a relation with ``doc_id`` and ``dl``
    (``ValueError`` otherwise).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError(f"query_terms must be distinct, got {query_terms}")
    if stats is not None and (
        (text_col, id_col) != ("text", "doc_id")
        or not {"doc_id", "dl"} <= set(stats.columns)
    ):
        raise ValueError(
            "stats= needs text_col='text', id_col='doc_id' and a stats "
            f"relation with doc_id, dl; got text_col={text_col!r}, "
            f"id_col={id_col!r}, stats columns {stats.columns}"
        )
    base = df.where(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(
        F.col(id_col),
        F.lower(F.trim(F.col(text_col))).alias("__t"),
    )
    with_t = base.select(
        id_col, "__t", F.size(F.split(F.col("__t"), r"\s+")).alias("dl")
    )
    # The corpus-stats leg is its own scan (Catalyst shares no subplans) and
    # needs only dl = token count: lowercasing never creates or destroys
    # whitespace (no Unicode case mapping produces a character in Java's
    # ASCII \s class), so this leg skips the full-corpus lower() the tf leg
    # pays — guide §2.3, project only what the consumer needs (optimization
    # r13; value-identity unit-tested). With a standing ``stats`` relation
    # the scan disappears entirely (optimization r14).
    if stats is not None:
        corpus = stats.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("total_tokens"),
        )
    else:
        corpus = df.where(
            F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
        ).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
            ).alias("total_tokens"),
        )
    # Candidate pre-filter BEFORE tokenize+explode: a doc can only match a
    # query term if that term appears as a SUBSTRING of its text — a
    # codegen'd Contains superset check, refined to exact token equality
    # after the explode. On a selective query this is the difference
    # between exploding the matching sliver and exploding the corpus:
    # measured at 1000× (5M docs, terms matching 0.1% of them) the
    # unfiltered form ran 72 s warm, this shape 5.2 s — explode volume is
    # the cost, and most of a real corpus matches no query term.
    any_term = F.col("__t").contains(query_terms[0])
    for t in query_terms[1:]:
        any_term = any_term | F.col("__t").contains(t)
    tf = (
        with_t.where(any_term)
        .select(
            id_col, "dl", F.explode(F.split(F.col("__t"), r"\s+")).alias("term")
        )
        .where(F.col("term").isin(query_terms))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    tf = tf.withColumn(
        "df_docs", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    avgdl = F.col("total_tokens").cast("double") / F.col("n_docs")
    idf_w = (F.col("n_docs") - F.col("df_docs") + F.lit(0.5)) / (
        F.col("df_docs") + F.lit(0.5)
    )
    sat = (F.col("tf") * (F.lit(k1) + F.lit(1.0))) / (
        F.col("tf")
        + F.lit(k1) * ((F.lit(1.0) - F.lit(b)) + F.lit(b) * (F.col("dl") / avgdl))
    )
    scored = tf.crossJoin(F.broadcast(corpus)).select(
        id_col, "term", (idf_w * sat).alias("__s")
    )
    per_term = [
        F.max(F.when(F.col("term") == t, F.col("__s"))).alias(f"__s{i}")
        for i, t in enumerate(query_terms)
    ]
    piv = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_terms_matched"), *per_term
    )
    total = F.coalesce(F.col("__s0"), F.lit(0.0))
    for i in range(1, len(query_terms)):
        total = total + F.coalesce(F.col(f"__s{i}"), F.lit(0.0))
    return (
        piv.select(
            id_col,
            "n_terms_matched",
            F.round(total, 6).alias("bm25_score"),
        )
        .orderBy(F.desc("bm25_score"), id_col)
        .limit(k)
    )
