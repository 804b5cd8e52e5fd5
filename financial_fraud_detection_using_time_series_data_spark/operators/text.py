"""Text-analysis operators for LLM-data-pipeline workloads (SURVEY §7 M8).

All JVM built-ins (split/regexp/md5/array ops) — no Python in the hot
path, so these run at scan speed over 100 TB of documents. Each has an
ANSI-SQL twin for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exprs import r6
from ..functions.lineage import reuse
from ..functions.local import local_frame

# small English stopword list used by the quality/language heuristics;
# kept tiny + explicit so the SQL oracle can inline the same list
STOPWORDS = (
    "the", "of", "and", "to", "in", "a", "is", "that", "for", "it",
    "on", "was", "with", "as", "be", "at", "by", "this", "are", "or",
)


def normalize(text: Column) -> Column:
    """Lowercase, collapse whitespace, strip — canonical form used by
    fingerprinting and dedup."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def tokens(text: Column) -> Column:
    """Whitespace tokenization of the normalized text."""
    return F.split(normalize(text), " ")


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty)."""
    t = normalize(text)
    return F.when(F.length(t) == 0, 0).otherwise(F.size(F.split(t, " ")))


def word_chars(text: Column) -> Column:
    """Count of alphabetic characters."""
    return F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))


# the ONE punctuation class used by punct_ratio everywhere (helper,
# text_features, and the DuckDB oracle must agree)
PUNCT_CLASS = r"[^.,;:!?]"


def punct_ratio(text: Column) -> Column:
    """Punctuation chars / total chars."""
    n = F.length(text)
    p = F.length(F.regexp_replace(text, PUNCT_CLASS, ""))
    return p / F.nullif(n.cast("double"), F.lit(0.0))


def stopword_ratio(text: Column) -> Column:
    """Fraction of tokens that are common-English stopwords — the core of
    the n-gram-free language/quality heuristic."""
    toks = tokens(text)
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits / F.nullif(F.size(toks).cast("double"), F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,1]: length sweet-spot, alpha ratio,
    stopword presence. Deterministic arithmetic only (oracle-safe)."""
    n = F.length(text).cast("double")
    len_score = F.least(n / F.lit(200.0), F.lit(1.0))
    alpha_ratio = word_chars(text) / F.nullif(n, F.lit(0.0))
    sw = stopword_ratio(text)
    sw_score = F.least(sw * F.lit(4.0), F.lit(1.0))
    return (len_score + alpha_ratio + sw_score) / F.lit(3.0)


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the normalized text. md5 exists in both
    Spark and DuckDB → exact oracle parity (vs xxhash64, Spark-only)."""
    return F.md5(normalize(text))


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token count: letter runs, digit runs, and single punctuation
    marks each count as one token — the ASCII core of a GPT-2-style
    pre-tokenizer, kept regex-portable so the DuckDB oracle matches
    (`regexp_extract_all` exists in both engines with this pattern)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0))


ROLLING_HASH_MOD = 1_000_000_007
ROLLING_HASH_BASE = 31


def rolling_hash(text: Column) -> Column:
    """Polynomial rolling-hash fingerprint of the normalized text:
    h = fold(h*31 + ascii(ch)) mod 1e9+7, entirely in int64 (max interim
    value < 31e9+255, no overflow). Unlike md5 this is incrementally
    updatable — the building block for windowed/rabin-karp fingerprints."""
    chars = F.split(normalize(text), "")
    codes = F.transform(chars, lambda c: F.ascii(c).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * ROLLING_HASH_BASE + c) % ROLLING_HASH_MOD,
    )


def word_shingles(text: Column, n: int = 2, tokenized: bool = False) -> Column:
    """Distinct word n-grams of the normalized text (n-gram Jaccard dedup
    building block — the word-level counterpart of char_shingles).
    tokenized=True: `text` is already a token array materialized in its
    own select (see char_shingles PERF note)."""
    toks = text if tokenized else tokens(text)
    cnt = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(cnt - F.lit(n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def char_shingles(
    text: Column, k: int = 3, normalized: bool = False, distinct: bool = True
) -> Column:
    """Distinct character k-grams of the normalized text (dedup building
    block). Built with sequence+transform — stays in codegen.

    PERF: expressions captured in a higher-order-function lambda are
    re-evaluated PER ARRAY ELEMENT, so the normalize() regex would run
    ~len(text) times per document if embedded here. Pass normalized=True
    with a pre-materialized normalized column (its own select, so it is
    an attribute — cheap per element) in any hot path; measured 17.5s →
    <1s over sf0.1 documents."""
    t = text if normalized else normalize(text)
    n = F.length(t)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: t.substr(i, F.lit(k)))
    # distinct=False skips the O(len²) array_distinct — correct whenever
    # the consumer is multiset-invariant (e.g. MinHash: min over a
    # multiset == min over its set)
    return F.array_distinct(grams) if distinct else grams


def lang_id(text: Column) -> Column:
    """Heuristic language ID: 'en' when stopword ratio is high, 'unknown'
    for short/empty, else 'other'. (Real n-gram models plug in here; the
    heuristic keeps the operator SQL-expressible for the oracle.)"""
    sw = stopword_ratio(text)
    return (
        F.when(token_count(text) < 3, "unknown")
        .when(sw >= 0.12, "en")
        .otherwise("other")
    )


def text_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The full text-analysis block over `documents`.

    Layered selects so the expensive primitives (normalize = lower +
    regexp collapse; tokenization; stopword filter) are computed ONCE and
    reused by every derived metric — the naive composition re-evaluates
    normalize+split per output column (~5× the regex work per document;
    measured 15.5s → ~4s at sf0.1)."""
    t = F.col(text_col)
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    base = df.select(
        id_col,
        F.length(t).cast("long").alias("n_chars_computed"),
        F.length(F.regexp_replace(t, PUNCT_CLASS, "")).alias("__n_punct"),
        F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).alias("__n_alpha"),
        normalize(t).alias("__norm"),
    )
    toks = base.select(
        "*",
        F.when(F.length("__norm") == 0, F.array().cast("array<string>"))
        .otherwise(F.split(F.col("__norm"), " "))
        .alias("__toks"),
    ).select(
        "*",
        F.size("__toks").alias("n_tokens"),
        F.size(F.filter(F.col("__toks"), lambda x: F.array_contains(sw, x))).alias("__n_sw"),
    )
    n = F.col("n_chars_computed").cast("double")
    n_tok = F.col("n_tokens").cast("double")
    sw_ratio = F.col("__n_sw") / F.nullif(n_tok, F.lit(0.0))
    q = (
        F.least(n / F.lit(200.0), F.lit(1.0))
        + F.col("__n_alpha") / F.nullif(n, F.lit(0.0))
        + F.least(sw_ratio * F.lit(4.0), F.lit(1.0))
    ) / F.lit(3.0)
    return toks.select(
        id_col,
        "n_chars_computed",
        "n_tokens",
        r6(F.col("__n_punct") / F.nullif(n, F.lit(0.0))).alias("punct_ratio"),
        r6(sw_ratio).alias("stopword_ratio"),
        r6(q).alias("quality_score"),
        F.when(F.col("n_tokens") < 3, "unknown")
        .when(sw_ratio >= 0.12, "en")
        .otherwise("other")
        .alias("lang_pred"),
        F.md5("__norm").alias("fingerprint"),
    )


# rule order IS the tiebreak: the first failing rule names the drop
QUALITY_RULES = ("too_short", "too_long", "low_alpha", "bad_word_len", "low_stopword")


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
    max_tokens: int = 5000,
    min_alpha_ratio: float = 0.55,
    word_len_range: tuple[float, float] = (2.0, 12.0),
    min_stopword_ratio: float = 0.04,
) -> DataFrame:
    """Gopher-style document quality filter (Rae et al. 2021, table A1
    shape): length band, alphabetic-character ratio, mean-word-length
    band, stopword floor. Emits EVERY document with a ``keep`` flag and
    the first failing rule as ``drop_reason`` — curation pipelines audit
    drop distributions, so filters must explain, not just delete.

    Map-only scan (layered selects, text_features-style: normalize/split
    once); filtering 100 TB is embarrassingly parallel. Deterministic
    arithmetic only → SQL-twinnable."""
    t = F.col(text_col)
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    base = df.select(
        id_col,
        F.length(t).cast("long").alias("__n_chars"),
        F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).alias("__n_alpha"),
        normalize(t).alias("__norm"),
    )
    toks = base.select(
        "*",
        F.when(F.length("__norm") == 0, F.array().cast("array<string>"))
        .otherwise(F.split(F.col("__norm"), " "))
        .alias("__toks"),
    ).select(
        "*",
        F.size("__toks").alias("n_tokens"),
        F.size(F.filter(F.col("__toks"), lambda x: F.array_contains(sw, x))).alias(
            "__n_sw"
        ),
        # mean word length over the normalized tokens: token chars =
        # norm length minus the single separating spaces
        (
            (F.length("__norm") - F.size("__toks") + 1)
            / F.nullif(F.size("__toks").cast("double"), F.lit(0.0))
        ).alias("__mean_wl"),
    )
    n_tok = F.col("n_tokens")
    checks = [
        ("too_short", n_tok < min_tokens),
        ("too_long", n_tok > max_tokens),
        (
            "low_alpha",
            F.col("__n_alpha") / F.nullif(F.col("__n_chars").cast("double"), F.lit(0.0))
            < min_alpha_ratio,
        ),
        (
            "bad_word_len",
            (F.col("__mean_wl") < word_len_range[0])
            | (F.col("__mean_wl") > word_len_range[1]),
        ),
        (
            "low_stopword",
            F.col("__n_sw") / F.nullif(n_tok.cast("double"), F.lit(0.0))
            < min_stopword_ratio,
        ),
    ]
    reason = F.lit(None).cast("string")
    for name, cond in reversed(checks):
        reason = F.when(F.coalesce(cond, F.lit(True)), name).otherwise(reason)
    return toks.select(
        id_col,
        "n_tokens",
        reason.isNull().alias("keep"),
        reason.alias("drop_reason"),
    )


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unigram language-model quality score: per-document mean
    ln P(token), with P estimated from the corpus itself (CCNet-style
    LM-perplexity filtering, reduced to its SQL-expressible unigram
    core — a real KenLM plugs in by swapping the vocab dimension for a
    broadcast model table).

    Shape for 100 TB: explode → per-(doc, term) count agg → per-term
    corpus counts are a |vocab|-row dimension, broadcast onto the
    doc-term table → one per-doc agg. The corpus total rides the
    broadcast dim (window-free sum via a 1-row crossJoin). Low mean
    logprob ⇒ rare/garbled vocabulary ⇒ drop candidate."""
    toks = df.select(
        id_col, F.explode(tokens(F.col(text_col))).alias("term")
    ).filter(F.length("term") > 0)
    doc_tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    vocab = doc_tf.groupBy("term").agg(F.sum("tf").alias("corpus_n"))
    total = vocab.agg(F.sum("corpus_n").alias("corpus_total"))
    return (
        doc_tf.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            (
                F.sum(
                    F.col("tf")
                    * (F.log(F.col("corpus_n")) - F.log(F.col("corpus_total")))
                )
                / F.sum("tf")
            ).alias("mean_logprob"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """TF-IDF keyword extraction: top-k terms per document by
    tf·idf, with tf = term_count/doc_len and idf = ln(N/df).

    Shape for scale: ONE exchange keyed by doc, of the (doc, text) rows
    (fewer bytes than their tokens) → tokenize once →
    the (doc, term) counts and the per-doc length (a window sum of
    those counts) ride it; the doc-frequency agg reads the same counts,
    so the corpus is shuffled once (AQE reuses the exchange). The
    (term, df) dimension is |vocab| rows — broadcastable far beyond
    100 TB of raw text — and the N scalar rides a 1-row cross-join (no
    driver collect). The per-doc top-k window rides the doc exchange
    too. Deterministic tiebreak (tfidf desc, term asc) keeps the output
    oracle-comparable.
    """
    from pyspark.sql import Window

    toks = (
        df.select(id_col, text_col)
        .repartition(id_col)
        .select(id_col, F.explode(tokens(F.col(text_col))).alias("term"))
        .filter(F.length("term") > 0)
    )
    # No `reuse` of the tokens: it would pin a CORPUS-scale frame to
    # executor block storage, against the bounded-frames-only policy.
    # doc_n is the doc's token count, Σ term_n, an exact integer sum
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("term_n")
    ).withColumn("doc_n", F.sum("term_n").over(Window.partitionBy(id_col)))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            (
                (F.col("term_n") / F.col("doc_n"))
                * F.log(F.col("n_docs") / F.col("df"))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
) -> DataFrame:
    """Token-bounded document chunking — the splitter every LLM
    training-data pipeline runs before tokenization/packing: each document
    becomes ceil(n_tokens/chunk_tokens) rows of at most ``chunk_tokens``
    whitespace tokens, with a stable (doc_id, chunk_id) key.

    Map-only: split → slice the token array per chunk (`F.slice` on a
    per-row `sequence` of chunk indices) → posexplode. No shuffle at all —
    chunking 100 TB is a pure scan — and downstream dedup/packing can
    bucket on the (doc_id, chunk_id) key. Empty documents yield no rows.
    """
    toks = tokens(F.col(text_col))
    n = F.when(F.length(normalize(F.col(text_col))) == 0, 0).otherwise(F.size(toks))
    n_chunks = F.ceil(n / F.lit(chunk_tokens)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda c: F.concat_ws(
            " ", F.slice(toks, c * chunk_tokens + 1, chunk_tokens)
        ),
    )
    out = df.select(
        id_col,
        F.posexplode(F.when(n_chunks > 0, chunks)).alias("chunk_id", "chunk_text"),
    )
    return out.withColumn(
        "chunk_tokens",
        F.when(F.length("chunk_text") == 0, 0).otherwise(
            F.size(F.split("chunk_text", " "))
        ),
    )


def sample_by_hash(
    df: DataFrame,
    id_col: str = "doc_id",
    rate: float = 0.1,
    salt: str = "sample",
    buckets: int = 10_000,
) -> DataFrame:
    """Deterministic hash sampling for dataset curation: keep a row iff
    md5(salt:id) mod buckets < rate·buckets. Unlike `df.sample`, the kept
    set is a pure function of the id — stable across engines, runs,
    partitionings, and cluster sizes, so a curated subset is reproducible
    (and joinable) anywhere. Map-only scan; change `salt` for independent
    draws."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    return df.filter((h % buckets) < int(rate * buckets))


def pack_chunks(
    df: DataFrame,
    target_tokens: int = 1024,
    doc_col: str = "doc_id",
    chunk_col: str = "chunk_id",
    token_col: str = "chunk_tokens",
) -> DataFrame:
    """Sequence packing: assign contiguous chunks (in (doc, chunk) order)
    to fixed-token-budget packs — the offset-based packing a training
    pipeline runs between chunking and tokenized-batch writing.

    ``pack_id = exclusive_running_tokens div target`` — a pure function
    of the global token prefix sum, computed with `chunked.global_cumsum`
    (percentile-chunked parallel windows, no single-task WindowExec), so
    packing 100 TB of chunks is one bounded shuffle. ``pack_offset`` is
    the chunk's token start position within its pack. Deterministic, so
    the pack assignment is reproducible and oracle-checkable.
    """
    from . import chunked

    base = df.withColumn("__k", F.col(doc_col).cast("double"))
    cs = chunked.global_cumsum(
        base, "__k", [doc_col, chunk_col], token_col, out_col="__cs"
    )
    excl = F.col("__cs") - F.col(token_col)
    return (
        cs.withColumn("pack_id", F.expr(f"(__cs - {token_col}) div {target_tokens}"))
        .withColumn("pack_offset", excl % target_tokens)
        .drop("__k", "__cs")
    )


def stratified_sample_by_hash(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "strat",
    buckets: int = 10_000,
) -> DataFrame:
    """Deterministic stratified sampling: per-stratum keep rates over the
    same engine-stable md5 bucket as `sample_by_hash` — the curation move
    for rebalancing a corpus (downsample the dominant language/source,
    keep the tail) while staying reproducible across runs and engines.
    Map-only scan; the rate lookup is a literal CASE, not a join."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    thresh: Column = F.lit(int(default_rate * buckets))
    for stratum, rate in rates.items():
        thresh = (
            F.when(F.col(strata_col) == stratum, int(rate * buckets)).otherwise(thresh)
        )
    return df.filter((h % buckets) < thresh)


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition screens: ``dup_token_frac`` (1 −
    distinct/total tokens) and ``top_bigram_frac`` (share of the most
    frequent word 2-gram) — high values mark boilerplate/spam that
    length and stopword rules miss.

    dup_token_frac is map-only (array_distinct on the token array). The
    bigram share is explode → (doc, gram) count → per-doc max/sum: two
    map-side-combined aggs keyed by doc_id, so 100 TB shuffles only
    gram-count pairs, never text."""
    toks = df.select(
        id_col, tokens(F.col(text_col)).alias("__toks")
    ).select(
        id_col,
        "__toks",
        F.when(F.length(F.concat_ws("", "__toks")) == 0, 0)
        .otherwise(F.size("__toks"))
        .alias("n_tokens"),
        F.size(F.array_distinct("__toks")).alias("__n_distinct"),
    )
    raw = toks.filter(F.col("n_tokens") >= 2).select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__toks") - 1),
                lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i, 2)),
            )
        ).alias("__g"),
    )
    per_gram = raw.groupBy(id_col, "__g").agg(F.count(F.lit(1)).alias("c"))
    per_doc = per_gram.groupBy(id_col).agg(
        F.max("c").alias("__max_c"), F.sum("c").alias("__total")
    )
    return (
        toks.join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            (
                F.lit(1.0)
                - F.col("__n_distinct")
                / F.nullif(F.col("n_tokens").cast("double"), F.lit(0.0))
            ).alias("dup_token_frac"),
            (F.col("__max_c") / F.col("__total").cast("double")).alias(
                "top_bigram_frac"
            ),
        )
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word ``ngram``-gram with a held-out benchmark set (the WMDP/GPT-3
    appendix-C style 13-gram check, shortened to fit synthetic doc
    lengths). Returns every training doc with its count of distinct
    overlapping n-grams — pipelines drop `n_hits > 0` rows, but audits
    want the counts.

    Shape: both sides explode DISTINCT shingle md5s (hashes, not
    strings, cross the wire); benchmark shingles are a broadcastable dim
    (benchmarks are small by definition) inner-joined onto training
    shingles; one per-doc count agg; left join back for the zero rows.
    """
    def shingles(frame: DataFrame) -> DataFrame:
        t = frame.select(id_col, tokens(F.col(text_col)).alias("__toks"))
        return t.filter(F.size("__toks") >= ngram).select(
            id_col,
            F.explode(word_shingles(F.col("__toks"), ngram, tokenized=True)).alias(
                "__s"
            ),
        ).select(id_col, F.md5("__s").alias("__h"))

    bench_sh = shingles(benchmark).select("__h").distinct()
    train_sh = shingles(df)
    hits = (
        train_sh.join(F.broadcast(bench_sh), "__h")
        .groupBy(id_col)
        .agg(F.countDistinct("__h").alias("n_hits"))
    )
    return df.select(id_col).join(hits, id_col, "left").select(
        id_col,
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
    )


# PII scrub patterns, applied IN ORDER (each runs on the output of the
# previous replacement; the SQL oracle must mirror the order). Patterns
# restrict themselves to syntax shared by Java regex (Spark) and RE2
# (DuckDB): character classes, bounded repetition, \b — no lookaround.
PII_PATTERNS = (
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("idnum", r"\b\d{9,}\b", "<ID>"),
)


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "redacted"
) -> DataFrame:
    """Training-corpus PII scrub: URLs, emails, IPv4s, and long digit
    runs replaced with typed tokens, with a per-category match count for
    the curation audit trail.

    Map-only column expressions — regexp_count + regexp_replace chained
    per category — so the scrub runs at scan speed with no shuffle and
    composes with the quality filters in one pass over 100 TB. Counts
    are taken on the text as it looks when that category's pass runs
    (post prior replacements), which is also what the redacted output
    reflects; replacement tokens contain no digits/@/dots so later
    patterns can never match inside an earlier token."""
    cur = F.col(text_col)
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, token)
    return df.select("*", *counts, cur.alias(out_col))


def shard_assign(
    df: DataFrame,
    n_shards: int = 8,
    id_col: str = "doc_id",
    order_col: str | None = None,
    salt: str = "shard",
) -> DataFrame:
    """Deterministic training-export sharding: shard = md5(salt:id)
    bucket mod n_shards (engine-stable, like `sample_by_hash`), position
    = rank within the shard by (order_col, id).

    This is the step between curation and the training job: a fixed
    shard count with a reproducible membership + ordering means any
    engine can rewrite exactly the same shard files, resume a partial
    export, or map a training example back to its shard/offset. The
    within-shard window partitions on shard — n_shards parallel sorts,
    never a partitionless global window."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    out = df.withColumn("shard", (h % n_shards).cast("int"))
    order = [F.col(order_col)] if order_col else []
    w = Window.partitionBy("shard").orderBy(*order, F.col(id_col))
    return out.withColumn("shard_pos", F.row_number().over(w))


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
    buckets: int = 10_000,
) -> DataFrame:
    """Data-mixing sampler: downsample each source so the kept corpus
    approximates ``budget_tokens`` split by ``weights`` (the standard
    LLM pretraining "mixture" step).

    rate_s = min(1, budget·w_s / tokens_s) per source — sources with
    fewer tokens than their allocation are kept whole (no upsampling).
    Membership is the deterministic md5 bucket rule shared with
    `sample_by_hash`, so the mixture is reproducible on any engine.

    Plan shape: one agg for per-source token totals (tiny dim, broadcast
    back), then a map-only filter over the corpus — the big table
    shuffles zero times. Returns kept rows + (n_tokens, rate)."""
    toks = df.withColumn("n_tokens", token_count(F.col(text_col)))
    totals = toks.groupBy(source_col).agg(F.sum("n_tokens").alias("__total"))
    wmap = F.create_map(
        *[F.lit(x) for kv in weights.items() for x in kv]
    )
    rates = totals.select(
        source_col,
        F.least(
            F.lit(1.0),
            F.lit(float(budget_tokens))
            * F.coalesce(wmap[F.col(source_col)], F.lit(0.0))
            / F.nullif(F.col("__total").cast("double"), F.lit(0.0)),
        ).alias("rate"),
    )
    joined = toks.join(F.broadcast(rates), source_col)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    # explicit floor on the threshold: long-cast truncation happens to
    # floor for positive rates, but the oracle twin must use floor() too
    # (DuckDB's ::BIGINT rounds half away from zero) — the membership
    # rule must be IDENTICAL on both engines
    return joined.filter((h % buckets) < F.floor(F.col("rate") * buckets))


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    n: int = 10,
) -> DataFrame:
    """Okapi BM25 ranked retrieval for a small bag of query terms —
    the standard lexical-search scorer (query-based corpus curation /
    relevance filtering at training-data scale).

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)  (Robertson-Sparck Jones,
    the +1 form that keeps idf positive).

    Plan shape: one explode pass; the query-term filter lands directly on
    the exploded stream BEFORE any aggregation, so the per-(doc, term)
    tf agg only ever sees |query| terms' postings. Corpus-wide work is a
    single doc-length agg (needed for avgdl and dl). (df, idf) is a
    |query|-row broadcast; (N, avgdl) rides a 1-row broadcast cross-join.
    Top-n resolves to TakeOrderedAndProject — no global sort.
    """
    toks = df.select(
        id_col, F.explode(tokens(F.col(text_col))).alias("term")
    ).filter(F.length("term") > 0)
    doc_len = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = doc_len.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n_docs")
    )
    tf = (
        toks.filter(F.col("term").isin([t.lower() for t in query_terms]))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        F.log(
            (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        )
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )
    # per-doc score folds on the 1e-9 micro-grid: a raw float sum is
    # summation-order sensitive in the last ulp, and on corpora with
    # exact-duplicate documents (score TIES) that ulp decides the
    # ranking — measured as a cross-engine top-k membership flip at
    # sf1.0 (10x clone corpus) before this fold
    scored = (
        tf.join(doc_len, id_col)
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            (
                F.sum(
                    F.floor(contrib * F.lit(1e9) + F.lit(0.5)).cast(
                        "decimal(38,0)"
                    )
                ).cast("double")
                / F.lit(1e9)
            ).alias("score"),
            F.count(F.lit(1)).alias("n_terms_matched"),
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(n)


def token_pmi(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_pairs: int = 5,
    top: int = 50,
) -> DataFrame:
    """Pointwise mutual information of token pairs co-occurring in the
    same document (presence-based): pmi(a,b) = ln(n_ab·N / (n_a·n_b)).
    Surfaces collocations / boilerplate signatures in a corpus.

    Plan shape: distinct (doc, term) — one agg — then a self-equi-join on
    doc_id with a.term < b.term to enumerate within-doc pairs. Both join
    sides share the doc_id hash partitioning (one shuffle, reused), and
    the pair agg map-side-combines to |vocab|² before its (tiny) shuffle.
    Per-doc pair fan-out is O(u²) in the doc's DISTINCT token count u —
    bounded by vocabulary, not doc length; for open-vocab web text, cap u
    upstream (e.g. top-m terms per doc) before calling. Unigram doc
    frequencies are a |vocab|-row broadcast; N rides a 1-row broadcast.
    """
    # No `reuse` here: it would pin the CORPUS-scale distinct
    # (doc, term) frame to executor block storage, against the
    # bounded-frames-only lineage policy. The unigram agg and both
    # self-join sides reference the same object (shared exprIds), but
    # ReuseExchange catches only part of it: the executed AQE plan runs
    # 3 documents scans with 2 reused exchanges (measured at sf0.01 and
    # sf0.1).
    dt = (
        df.select(id_col, F.explode(tokens(F.col(text_col))).alias("term"))
        .filter(F.length("term") > 0)
        .distinct()
    )
    n_docs = df.select(F.count_distinct(id_col).alias("n_docs"))
    uni = dt.groupBy("term").agg(F.count(F.lit(1)).alias("n_t"))
    a = dt.select(F.col(id_col).alias("__d"), F.col("term").alias("term_a"))
    bb = dt.select(F.col(id_col).alias("__d"), F.col("term").alias("term_b"))
    pairs = (
        a.join(bb, "__d")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pairs)
    )
    ua = uni.select(F.col("term").alias("term_a"), F.col("n_t").alias("n_a"))
    ub = uni.select(F.col("term").alias("term_b"), F.col("n_t").alias("n_b"))
    out = (
        pairs.join(F.broadcast(ua), "term_a")
        .join(F.broadcast(ub), "term_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term_a",
            "term_b",
            "n_ab",
            F.log(
                F.col("n_ab").cast("double")
                * F.col("n_docs")
                / (F.col("n_a") * F.col("n_b"))
            ).alias("pmi"),
        )
    )
    return out.orderBy(F.col("pmi").desc(), "term_a", "term_b").limit(top)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "ws",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES): each row draws an engine-stable uniform u from the
    md5 bucket of its id and ranks by ln(u)/w — the top-k ranks are a
    weight-proportional sample. The corpus-mixing move when sources
    should be sampled proportionally to quality/length weights, exactly
    reproducible across runs AND engines (the oracle computes the same
    md5-derived u, and ranking by ln(u)/w is the monotone-stable form of
    u^(1/w) — no pow()).

    Map-only scan + TakeOrdered top-k: no shuffle of the corpus, driver
    holds k rows. Weights must be > 0.
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(0.5)) / F.lit(4294967296.0)
    key = F.log(u) / F.col(weight_col).cast("double")
    cand = df.withColumn("__key", key)
    topk = cand.orderBy(F.col("__key").desc(), F.col(id_col)).limit(k)
    w = Window.orderBy(F.col("__key").desc(), F.col(id_col))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .drop("__key")
    )


def hybrid_search_rrf(
    docs: DataFrame,
    embs: DataFrame,
    query_terms: list[str],
    query_vec_id: int,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    n: int = 10,
    k_rrf: int = 60,
    n_each: int = 20,
) -> DataFrame:
    """Hybrid retrieval: fuse the BM25 lexical ranking and the cosine
    semantic ranking with reciprocal-rank fusion (score = Σ 1/(k +
    rank_m)) — the standard RAG-stack fusion, rank-based so it needs no
    score calibration between modalities.

    Both candidate lists are top-``n_each`` (driver-scale frames); the
    fusion is a full outer join of two ≤n_each-row frames + arithmetic —
    the corpus-scale work is exactly the two underlying retrievals, each
    already scale-shaped (BM25: pre-agg + broadcast idf; cosine:
    broadcast query, one scan).
    """
    from . import similarity as _sim

    lex = bm25_search(docs, query_terms, id_col=id_col, n=n_each)
    wlex = Window.orderBy(F.col("score").desc(), F.col(id_col))
    lexr = lex.select(id_col, F.row_number().over(wlex).alias("lex_rank"))
    qdf = embs.where(F.col(vec_id_col) == query_vec_id).select(
        F.col(vec_id_col).alias("qid"), "embedding"
    )
    sem = _sim.brute_force_topk(embs, qdf, k=n_each)
    semr = sem.select(
        F.col(vec_id_col).alias(id_col), F.col("rank").alias("sem_rank")
    )
    fused = lexr.join(semr, id_col, "full_outer")
    score = F.coalesce(
        F.lit(1.0) / (F.lit(k_rrf) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(k_rrf) + F.col("sem_rank")), F.lit(0.0)
    )
    wout = Window.orderBy(F.col("rrf_score").desc(), F.col(id_col))
    return (
        fused.withColumn("rrf_score", score)
        .withColumn("rank", F.row_number().over(wout))
        .where(F.col("rank") <= n)
        .select("rank", id_col, "lex_rank", "sem_rank", "rrf_score")
    )


def rake_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 15,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal runs of non-stopword tokens; each word scores
    degree/frequency (degree = Σ length of every phrase it appears in,
    frequency = its occurrence count); a phrase scores the sum of its
    words' scores. The corpus-level top-``top_n`` distinct phrases land
    in training-data curation as topic/keyword signals that need no
    model.

    Distributed shape: tokenize → posexplode → gaps-and-islands run ids
    (run = pos − rank-of-non-stopword, ONE per-doc window) → phrase
    assembly and word stats as two groupBys; word stats broadcast back
    onto phrase members (the word dim is vocabulary-sized). All
    arithmetic that crosses rows is EXACT: per-word scores are
    micro-scaled to BIGINT (floor(deg/freq·1e6 + 0.5)) before summing,
    so the phrase score is reduction-order invariant and the oracle
    matches bit-for-bit — a float sum here would hash-diverge on
    aggregation order. Ties at the top-k boundary break on phrase text.
    """
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(tokens(F.col(text_col))).alias("__pos", "__tok"),
    ).where(F.col("__tok") != "")
    nonstop = toks.where(~F.col("__tok").isin(*STOPWORDS))
    w = Window.partitionBy("__id").orderBy("__pos")
    runs = nonstop.withColumn(
        "__run", F.col("__pos") - F.row_number().over(w)
    )
    # the run frame feeds the phrase-length agg and the member join
    members = runs.select("__id", "__run", "__pos", "__tok").transform(reuse)
    plen = members.groupBy("__id", "__run").agg(
        F.count(F.lit(1)).alias("__plen")
    )
    mem = members.join(plen, ["__id", "__run"])
    wstats = mem.groupBy("__tok").agg(
        F.count(F.lit(1)).alias("__freq"),
        F.sum("__plen").alias("__deg"),
    )
    scored = mem.join(F.broadcast(wstats), "__tok").withColumn(
        "__wmicro",
        F.floor(
            F.col("__deg").cast("double") / F.col("__freq").cast("double")
            * F.lit(1_000_000.0)
            + F.lit(0.5)
        ).cast("long"),
    )
    phrases = scored.groupBy("__id", "__run").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__tok"))),
                lambda s: s["__tok"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("__wmicro").alias("__micro"),
    )
    agg = phrases.groupBy("phrase").agg(
        F.max("n_words").alias("n_words"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.max("__micro").alias("__micro"),
    )
    return (
        agg.orderBy(F.col("__micro").desc(), F.col("phrase"))
        .limit(top_n)
        .select(
            "phrase",
            "n_words",
            "n_occurrences",
            (F.col("__micro").cast("double") / F.lit(1_000_000.0)).alias("rake_score"),
        )
    )


def group_sample_exact(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "gsample",
) -> DataFrame:
    """EXACT-k deterministic per-group sample — the balanced-subsample
    move (k docs per source / per class) where `stratified_sample_by_hash`
    gives only an EXPECTED rate. Rows are ranked inside each group by
    the engine-stable md5(salt:id) order (ties impossible: the full
    digest is unique per id, and ``id_col`` tiebreaks anyway), and the
    first ``k`` survive — a pure function of (salt, ids), reproducible
    across runs, partitionings, and engines.

    One window exchange on the group key; groups smaller than ``k``
    keep all members. Change ``salt`` for an independent draw.
    """
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 1.0,
) -> DataFrame:
    """Bigram language-model quality score: per-document mean
    ln P(w₂ | w₁) with add-k (Laplace) smoothing, probabilities
    estimated from the corpus itself — the sequence-aware upgrade of
    `unigram_logprob` (a bag of real words in scrambled order fools a
    unigram filter; it craters the bigram score).

    Shape for 100 TB: ONE per-doc window (lead) turns the token stream
    into bigram rows; bigram and context counts are vocabulary-bounded
    dims broadcast back; the per-doc mean folds integer micro-nats
    (floor(ln·1e6 + 0.5) per occurrence, summed exactly) so the score
    is reduction-order invariant and the oracle matches bit-for-bit.
    Documents with fewer than 2 tokens drop (no bigram exists).
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "w1"),
    ).filter(F.length("w1") > 0)
    w = Window.partitionBy(id_col).orderBy("pos")
    bi = toks.withColumn("w2", F.lead("w1").over(w)).where(F.col("w2").isNotNull())
    big_counts = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx_counts = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = toks.agg(F.count_distinct("w1").alias("v"))
    lp = F.log(
        (F.col("c12") + F.lit(add_k))
        / (F.col("c1") + F.lit(add_k) * F.col("v"))
    )
    micro = F.floor(lp * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
    return (
        bi.join(F.broadcast(big_counts), ["w1", "w2"])
        .join(F.broadcast(ctx_counts), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            (
                F.sum(micro).cast("double")
                / (F.count(F.lit(1)) * F.lit(1_000_000.0))
            ).alias("mean_logprob"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    min_containment: float = 0.5,
) -> DataFrame:
    """Asymmetric near-dup detection: shingle CONTAINMENT
    |S(a)∩S(b)| / |S(a)| per ordered candidate pair — the quote /
    subset-document detector Jaccard misses (a paragraph fully copied
    into a much longer page has tiny Jaccard but containment ≈ 1 in the
    short→long direction). Reported per unordered pair with both
    directions, filtered on max(containment).

    Same all-pairs-over-a-bounded-candidate-set contract as
    ``word_ngram_jaccard`` (the caller bounds the candidate frame —
    production feeds SNM/LSH candidates, never the raw corpus). All set
    sizes are exact integers.
    """
    sh = docs.select(
        F.col(id_col), word_shingles(F.col(text_col), n).alias("__sh")
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    na, nb = F.size("sh_a"), F.size("sh_b")
    c_ab = inter / F.nullif(na.cast("double"), F.lit(0.0))
    c_ba = inter / F.nullif(nb.cast("double"), F.lit(0.0))
    return pairs.select(
        "id_a",
        "id_b",
        inter.cast("long").alias("n_common"),
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        c_ab.alias("contain_a_in_b"),
        c_ba.alias("contain_b_in_a"),
    ).where(
        F.greatest(F.col("contain_a_in_b"), F.col("contain_b_in_a"))
        >= F.lit(min_containment)
    )


def zipf_slope(
    docs: DataFrame,
    text_col: str = "text",
    top_v: int = 1000,
) -> DataFrame:
    """Zipf-law slope of the corpus frequency spectrum: OLS fit of
    ln(freq) on ln(rank) over the top-V vocabulary. Natural-language
    corpora sit near −1; a slope collapsing toward 0 means boilerplate/
    template flooding, a steep slope means vocabulary starvation — the
    single-number corpus-health check a curation pipeline tracks per
    snapshot.

    One explode → term-count aggregate (map-side combined) is the only
    corpus pass; top-V is TakeOrderedAndProject (count desc, term asc —
    deterministic ties); the regression folds integer micro-units over
    the V-row frame (DECIMAL(38,0)), so the slope is exact
    cross-engine. Output: one row (n_terms, slope, intercept,
    total_tokens).
    """
    toks = docs.select(
        F.explode(tokens(F.col(text_col))).alias("__t")
    ).where(F.col("__t") != "")
    counts = toks.groupBy("__t").agg(F.count(F.lit(1)).alias("__n"))
    top = counts.orderBy(F.desc("__n"), "__t").limit(top_v)
    w = Window.orderBy(F.desc("__n"), "__t")
    ranked = top.select(
        F.row_number().over(w).alias("__r"), "__n"
    )
    x = F.log(F.col("__r").cast("double"))
    y = F.log(F.col("__n").cast("double"))

    def micro(c):
        return F.sum(
            F.floor(c * F.lit(1e9) + F.lit(0.5)).cast("decimal(38,0)")
        ).cast("double") / F.lit(1e9)

    agg = ranked.agg(
        micro(x).alias("sx"),
        micro(y).alias("sy"),
        micro(x * y).alias("sxy"),
        micro(x * x).alias("sxx"),
        F.count(F.lit(1)).alias("n"),
        F.sum("__n").alias("total_tokens"),
    )
    nn = F.col("n").cast("double")
    slope = (nn * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nn * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / nn
    return agg.select(
        F.col("n").cast("long").alias("n_terms"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


def log_odds_tokens(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_k: int = 10,
    alpha: float = 0.5,
) -> DataFrame:
    """Distinctive vocabulary per group: Dirichlet-smoothed log-odds of
    each token's usage inside a group vs the rest of the corpus
    (Monroe et al.'s "fightin' words" statistic) — what actually
    separates one source/subcorpus from the others, where raw TF-IDF
    just rewards rarity. The per-source fingerprint a curation pipeline
    reviews before deciding mixture weights.

    One explode → (group, token) count aggregate is the only corpus
    pass; token totals broadcast; the log-odds is a pure per-row scalar
    over four exact integer counts (no float folds needed), and top-k
    per group is a rank window over the (group, token) frame. Ties
    break on token text — deterministic.
    """
    from pyspark.sql import Window

    gt = (
        docs.select(F.col(group_col).alias("grp"), F.explode(tokens(F.col(text_col))).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("grp", "tok")
        .agg(F.count(F.lit(1)).alias("n_gt"))
    )
    tok_tot = gt.groupBy("tok").agg(F.sum("n_gt").alias("n_t"))
    grp_tot = gt.groupBy("grp").agg(F.sum("n_gt").alias("n_g"))
    corpus = gt.agg(F.sum("n_gt").alias("n_all"))
    a = F.lit(float(alpha))
    j = (
        gt.join(F.broadcast(tok_tot), "tok")
        .join(F.broadcast(grp_tot), "grp")
        .crossJoin(F.broadcast(corpus))
    )
    in_g = F.col("n_gt").cast("double")
    rest = (F.col("n_t") - F.col("n_gt")).cast("double")
    size_g = F.col("n_g").cast("double")
    size_rest = (F.col("n_all") - F.col("n_g")).cast("double")
    lo = F.log((in_g + a) / (size_g - in_g + a)) - F.log(
        (rest + a) / (size_rest - rest + a)
    )
    scored = j.select(
        "grp",
        "tok",
        F.col("n_gt").cast("long").alias("n_in_group"),
        F.col("n_t").cast("long").alias("n_corpus"),
        lo.alias("log_odds"),
    )
    w = Window.partitionBy("grp").orderBy(F.desc("log_odds"), "tok")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("grp", "rank", "tok", "n_in_group", "n_corpus", "log_odds")
    )


# 1e-9-grid integer DCG discount units for ranks 1..10: quantizing each
# 1/log2(i+1) BEFORE summation makes DCG/IDCG exact integer arithmetic —
# the sums are order-invariant and reproducible cross-engine, with no
# libm log2 in the hot path at all.
import math as _math

DCG_DISC_U = tuple(
    int(_math.floor(1.0 / _math.log2(i + 1) * 1e9 + 0.5)) for i in range(1, 11)
)


def retrieval_metrics(
    df: DataFrame,
    queries: list[tuple[int, list[str]]],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """Ranking-quality evaluation of the lexical search stack: for each
    (query_id, terms) pair, score the corpus with Okapi BM25 (identical
    term-level math to `bm25_search`), take the top-``k``, and grade the
    ranking against CONJUNCTIVE term relevance (a doc is relevant iff it
    contains EVERY query term — exact, binary, engine-independent ground
    truth). Emits the three metrics every retrieval regression suite
    watches:

    - ``recall_at_k``  = |relevant ∩ top-k| / |relevant|
    - ``mrr``          = 1 / rank of the first relevant hit (0 if none)
    - ``ndcg_at_k``    = DCG@k / IDCG@k with binary gains

    DCG discounts are precomputed 1e-9-grid INTEGER units
    (``DCG_DISC_U``), so DCG and IDCG are exact integer sums and nDCG a
    single exact division — no float summation order anywhere.

    Scale shape: ALL queries are evaluated in ONE corpus pass — the
    (query_id, term) map is a broadcast dim joined onto a single
    posting-filtered explode, so cost is independent of |queries| (the
    per-query-loop form paid 2 corpus scans PER query). Per-(query, doc)
    scores reduce by map-side combine; the top-k rank window partitions
    by query_id over the scored frame; everything after the top-k filter
    is |queries|·k rows. Relevance reuses the same tf frame (presence of
    all |terms| postings), reduced to |queries| one-row counts before
    the final join.
    """
    if not 1 <= k <= len(DCG_DISC_U):
        # the integer discount table covers ranks 1..len(DCG_DISC_U);
        # element_at past the array end errors under ANSI mode and would
        # silently drop ranks otherwise — refuse loudly instead
        raise ValueError(
            f"k={k} outside the precomputed DCG discount table "
            f"(1..{len(DCG_DISC_U)}); extend DCG_DISC_U to use a larger k"
        )
    spark = df.sparkSession
    qmap = local_frame(
        spark,
        [(qid, t.lower()) for qid, ts in queries for t in ts],
        "query_id int, term string",
    )
    qinfo = local_frame(
        spark,
        [(qid, " ".join(t.lower() for t in ts), len(ts)) for qid, ts in queries],
        "query_id int, query string, n_terms int",
    )
    all_terms = sorted({t.lower() for _, ts in queries for t in ts})

    toks = df.select(
        id_col, F.explode(tokens(F.col(text_col))).alias("term")
    ).filter(F.length("term") > 0)
    doc_len = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = doc_len.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n_docs")
    )
    tf = (
        toks.filter(F.col("term").isin(all_terms))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    k1, b = 1.2, 0.75
    contrib = (
        F.log(
            (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        )
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )
    # same 1e-9 micro-grid fold as bm25_search: order-invariant per-doc
    # score, so clone-corpus ties rank identically on both engines
    scored = (
        tf.join(F.broadcast(qmap), "term")
        .join(doc_len, id_col)
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", id_col)
        .agg(
            (
                F.sum(
                    F.floor(contrib * F.lit(1e9) + F.lit(0.5)).cast(
                        "decimal(38,0)"
                    )
                ).cast("double")
                / F.lit(1e9)
            ).alias("score"),
            F.count(F.lit(1)).alias("n_matched"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    topk = scored.select(
        "query_id", id_col, F.row_number().over(w).alias("rank")
    ).where(F.col("rank") <= k)

    # conjunctive relevance straight off the same tf frame: a doc is
    # relevant to q iff it has a posting for EVERY one of q's terms
    matched = tf.join(F.broadcast(qmap), "term").groupBy(
        "query_id", id_col
    ).agg(F.count(F.lit(1)).alias("__nm"))
    relevant = matched.join(F.broadcast(qinfo), "query_id").where(
        F.col("__nm") == F.col("n_terms")
    ).select("query_id", id_col)
    n_rel = relevant.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_relevant")
    )

    disc = F.array(*[F.lit(u) for u in DCG_DISC_U])
    graded = topk.join(
        relevant.withColumn("__rel", F.lit(1)), ["query_id", id_col], "left"
    ).select(
        "query_id",
        "rank",
        F.coalesce(F.col("__rel"), F.lit(0)).alias("rel"),
    )
    per_q = graded.groupBy("query_id").agg(
        F.coalesce(F.sum("rel"), F.lit(0)).alias("hits"),
        F.coalesce(
            F.sum(
                F.col("rel").cast("long")
                * F.element_at(disc, F.col("rank")).cast("long")
            ),
            F.lit(0),
        ).alias("dcg_u"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("__fr"),
    )

    idcg_prefix = [0]
    for u in DCG_DISC_U:
        idcg_prefix.append(idcg_prefix[-1] + u)
    idcg = F.element_at(
        F.array(*[F.lit(u) for u in idcg_prefix]),
        (F.least(F.col("n_relevant"), F.lit(k)) + F.lit(1)).cast("int"),
    )
    return (
        qinfo.join(per_q, "query_id", "left")
        .join(n_rel, "query_id", "left")
        .select(
            "query_id",
            "query",
            F.coalesce(F.col("n_relevant"), F.lit(0))
            .cast("long")
            .alias("n_relevant"),
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits_at_k"),
            F.when(
                F.coalesce(F.col("n_relevant"), F.lit(0)) > 0,
                F.col("hits").cast("double") / F.col("n_relevant"),
            ).alias("recall_at_k"),
            F.coalesce(
                F.lit(1.0) / F.col("__fr").cast("double"), F.lit(0.0)
            ).alias("mrr"),
            F.when(
                F.coalesce(F.col("n_relevant"), F.lit(0)) > 0,
                F.coalesce(F.col("dcg_u"), F.lit(0)).cast("double")
                / idcg.cast("double"),
            ).alias("ndcg_at_k"),
        )
    )


def readability(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flesch Reading Ease + Flesch-Kincaid grade per document — the
    classic readability screens an LLM-data quality pipeline runs next
    to `quality_score` (keep prose, drop keyword soup and legalese).

    Counts are pure regexp built-ins (scan-speed, no Python):
    words = whitespace tokens of the normalized text; sentences =
    ``[.!?]+`` runs (min 1); syllables ≈ ``[aeiouy]+`` vowel-group runs
    of the lowercased text (the standard heuristic), floored at one per
    word. FRE = 206.835 − 1.015·(W/S) − 84.6·(Syl/W);
    FKGL = 0.39·(W/S) + 11.8·(Syl/W) − 15.59. Empty docs yield NULLs.
    Map-only plan; both scores r6-rounded for cross-engine parity.
    """
    words = token_count(F.col(text_col)).cast("double")
    sentences = F.greatest(
        F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")), F.lit(1)
    ).cast("double")
    syl = F.greatest(
        F.regexp_count(F.lower(F.col(text_col)), F.lit(r"[aeiouy]+")),
        token_count(F.col(text_col)),
    ).cast("double")
    wps = words / sentences
    spw = syl / F.when(words > 0, words).otherwise(F.lit(1.0))
    fre = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    fkgl = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    ok = words > 0
    return df.select(
        id_col,
        words.cast("long").alias("n_words"),
        sentences.cast("long").alias("n_sentences"),
        syl.cast("long").alias("n_syllables"),
        r6(F.when(ok, fre)).alias("flesch_reading_ease"),
        r6(F.when(ok, fkgl)).alias("fk_grade"),
    )


def hapax_stats(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary-frequency profile: vocabulary size, hapax
    legomena (frequency-1 types), dis legomena (frequency-2), their
    ratios, and the type-token ratio — the lexical-richness numbers
    behind `zipf_slope`'s exponent (a scraped corpus full of serial
    numbers shows as a hapax spike; boilerplate shows as a collapse).

    One explode + token groupBy (map-side combined) collapses the
    corpus to |vocab| rows; the profile folds that frame in a single
    exact-integer aggregate. Returns one row.
    """
    tok = df.select(
        F.explode(tokens(F.col(text_col))).alias("__t")
    ).where(F.length("__t") > 0)
    freq = tok.groupBy("__t").agg(F.count(F.lit(1)).alias("__f"))
    agg = freq.agg(
        F.count(F.lit(1)).alias("__v"),
        F.sum("__f").alias("__n"),
        F.sum((F.col("__f") == 1).cast("long")).alias("__h1"),
        F.sum((F.col("__f") == 2).cast("long")).alias("__h2"),
    )
    v = F.col("__v").cast("double")
    n = F.col("__n").cast("double")
    return agg.select(
        F.col("__n").cast("long").alias("n_tokens"),
        F.col("__v").cast("long").alias("vocab_size"),
        F.col("__h1").cast("long").alias("n_hapax"),
        F.col("__h2").cast("long").alias("n_dis"),
        r6(F.when(v > 0, F.col("__h1") / v)).alias("hapax_ratio"),
        r6(F.when(n > 0, v / n)).alias("type_token_ratio"),
    )


def heaps_law(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_chunks: int = 32,
) -> DataFrame:
    """Heaps'-law fit V(N) = K·N^β over the corpus in document-id order:
    how fast does vocabulary grow as tokens accumulate? β far above the
    English-corpus ~0.4–0.6 band means unbounded junk vocabulary
    (serial numbers, hashes); β collapsing toward 0 means the crawl is
    re-reading itself — both the macro companions to `hapax_stats`.

    Exact distributed construction, no partitionless window: each
    token's FIRST document is min(doc_id) per type (one token groupBy);
    per-doc new-type counts and token counts then cumulate along the
    doc order via ONE shared chunk decomposition (`range_chunk` + per-
    chunk windows + triangular offsets). The log-log OLS folds ln-point
    coordinates quantized to the 1e-9 grid, so Σx, Σxy, Σx² are exact
    integers. Returns one row: (n_docs, beta, k).
    """
    from . import chunked as C

    tok = df.select(
        F.col(id_col).alias("__d"),
        F.explode(tokens(F.col(text_col))).alias("__t"),
    ).where(F.length("__t") > 0)
    per_doc = tok.groupBy("__d").agg(F.count(F.lit(1)).alias("__nt"))
    first_docs = (
        tok.groupBy("__t")
        .agg(F.min("__d").alias("__d"))
        .groupBy("__d")
        .agg(F.count(F.lit(1)).alias("__nv"))
    )
    docs = per_doc.join(first_docs, "__d", "left").withColumn(
        "__nv", F.coalesce(F.col("__nv"), F.lit(0))
    )
    ch = C.range_chunk(docs, "__d", n_chunks)
    w_in = (
        Window.partitionBy("__chunk")
        .orderBy("__d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = ch.withColumn("__ct_in", F.sum("__nt").over(w_in)).withColumn(
        "__cv_in", F.sum("__nv").over(w_in)
    )
    totals = within.groupBy("__chunk").agg(
        F.max("__ct_in").alias("__ct"), F.max("__cv_in").alias("__cv")
    )
    offs = C.chunk_offsets(totals, ["__ct", "__cv"])
    pts = within.join(F.broadcast(offs), "__chunk").select(
        (F.col("__ct_off") + F.col("__ct_in")).alias("__N"),
        (F.col("__cv_off") + F.col("__cv_in")).alias("__V"),
    ).where((F.col("__N") > 0) & (F.col("__V") > 0))
    qx = F.floor(F.log(F.col("__N").cast("double")) * F.lit(1e9) + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    qy = F.floor(F.log(F.col("__V").cast("double")) * F.lit(1e9) + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    agg = pts.select(qx.alias("__x"), qy.alias("__y")).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double") / F.lit(1e9)
    sy = F.col("__sy").cast("double") / F.lit(1e9)
    sxy = F.col("__sxy").cast("double") / F.lit(1e18)
    sxx = F.col("__sxx").cast("double") / F.lit(1e18)
    vx = n * sxx - sx * sx
    beta = (n * sxy - sx * sy) / F.when(vx > 0, vx).otherwise(F.lit(1.0))
    k = F.exp((sy - beta * sx) / n)
    ok = (n > 1) & (vx > 0)
    return agg.select(
        F.col("__n").cast("long").alias("n_docs"),
        r6(F.when(ok, beta)).alias("beta"),
        r6(F.when(ok, k)).alias("k"),
    )


def domain_kl(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-domain KL divergence of the token distribution against the
    whole corpus, with add-α smoothing over the shared vocabulary — the
    mixture-balance diagnostic behind `mixture_sample`'s rates: a
    domain with high KL(P_domain ‖ P_corpus) is the one dragging the
    trained model off-distribution, and a near-zero KL flags a domain
    that adds volume but no diversity (see also `log_odds_tokens` for
    the per-token view; this is the one-number-per-domain rollup).

    KL = Σ_v p_d(v)·ln(p_d(v)/p_c(v)) with p(v) = (n_v + α)/(N + α·|V|).
    The naive evaluation densifies domains × vocabulary; here the
    absent-token mass folds in CLOSED FORM instead — every token absent
    from a domain shares ONE p₀ = α/(N_d + α|V|), so its total
    contribution is p₀·[(|V| − seen)·ln p₀ − (L_all − L_seen)], with
    L = Σ ln p_c over the respective token sets. L terms quantize
    per-token to the 1e-9 grid (O(ln p) magnitude — safe at any size),
    L_all is a 1-row corpus constant, and the plan never materializes a
    cross join.

    Scale shape: one (domain, token) rollup is the only corpus-sized
    pass; one equi-join against the |V|-row vocab frame; two broadcast
    scalar dims. Returns per domain: (n_tokens, vocab_seen, kl_nats).
    """
    tok = df.select(
        F.col(domain_col).alias("__d"),
        F.explode(tokens(F.col(text_col))).alias("__t"),
    ).where(F.length("__t") > 0)
    dt = tok.groupBy("__d", "__t").agg(F.count(F.lit(1)).alias("__n_dt"))
    dt = reuse(dt)  # feeds the vocab dim and the seen fold
    vocab = dt.groupBy("__t").agg(F.sum("__n_dt").alias("__n_t"))
    vocab = reuse(vocab)
    a = float(alpha)
    vtot = vocab.agg(
        F.count(F.lit(1)).cast("long").alias("__V"),
        F.sum("__n_t").cast("long").alias("__N"),
    )
    # per-token corpus log-prob on the 1e-9 grid (shared by both L sums)
    p_c = lambda: (F.col("__n_t") + F.lit(a)) / (
        F.col("__N") + F.lit(a) * F.col("__V")
    )
    vq = vocab.crossJoin(F.broadcast(vtot)).select(
        "__t",
        "__n_t",
        F.floor(F.log(p_c()) * F.lit(1e9) + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("__lq"),
    )
    l_all = vq.agg(F.sum("__lq").alias("__L_all"))
    doms = dt.groupBy("__d").agg(
        F.sum("__n_dt").cast("long").alias("__n_d"),
        F.count(F.lit(1)).cast("long").alias("__v_seen"),
    )
    seen = dt.join(vq, "__t").crossJoin(F.broadcast(vtot))
    p_d = (F.col("__n_dt") + F.lit(a)) / (
        F.col("__n_d") + F.lit(a) * F.col("__V")
    )
    term = p_d * (
        F.log(p_d) - F.col("__lq").cast("double") / F.lit(1e9)
    )
    folded = (
        seen.join(F.broadcast(doms), "__d")
        .groupBy("__d")
        .agg(
            F.sum(
                F.floor(term * F.lit(1e9) + F.lit(0.5)).cast("decimal(38,0)")
            ).alias("__kl_seen_nano"),
            F.sum("__lq").alias("__L_seen"),
        )
    )
    out = (
        doms.join(folded, "__d")
        .crossJoin(F.broadcast(vtot))
        .crossJoin(F.broadcast(l_all))
    )
    p0 = F.lit(a) / (F.col("__n_d") + F.lit(a) * F.col("__V"))
    absent = p0 * (
        (F.col("__V") - F.col("__v_seen")).cast("double") * F.log(p0)
        - (
            F.col("__L_all").cast("double")
            - F.col("__L_seen").cast("double")
        )
        / F.lit(1e9)
    )
    kl = F.col("__kl_seen_nano").cast("double") / F.lit(1e9) + absent
    return out.select(
        F.col("__d").alias(domain_col),
        F.col("__n_d").alias("n_tokens"),
        F.col("__v_seen").alias("vocab_seen"),
        (F.floor(kl * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "kl_nats"
        ),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 8,
    seed: int = 4242,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS local fingerprinting algorithm): hash every
    char k-gram of the normalized text, slide a w-length window over
    the hash sequence and SELECT the window minimum — any substring
    match of length ≥ w + k − 1 between two documents is then
    guaranteed to share a selected fingerprint, with expected density
    2/(w+1) instead of one hash per position. The per-position rolling
    structure makes this the scalable complement of the whole-document
    `fingerprint` (md5 of the full text detects only exact dups).

    Emits the per-document fingerprint census: (id, n_kgrams,
    n_windows, n_fingerprints, density, min_fp, max_fp). Map-only —
    everything is JVM array built-ins over a layered normalized column
    (the `char_shingles` PERF contract), no shuffle, no Python. Hashes
    are the md5-prefix BIGINT convention (`dedup._md5_hash64`), so the
    selected fingerprint SET replays bit-exactly in an external SQL
    engine; window-min ties select the VALUE (density counts distinct
    values), sidestepping the positional tie-break ambiguity.
    """
    if k < 1 or w < 1:
        raise ValueError(f"winnow_fingerprints: k={k}, w={w} must be >= 1")
    # round 12 (guide §2.5 input skew): the per-position md5 pass is the
    # cost of this operator; a single-split corpus would run it in ONE
    # task. Pure per-row map, so the parallelism floor is result-exact.
    from ..sources.tables import fan_out

    base = fan_out(df).select(
        F.col(id_col), normalize(F.col(text_col)).alias("__norm")
    )
    n = F.length("__norm")
    staged = base.select(
        id_col,
        F.when(
            n >= k,
            F.expr(
                f"transform(sequence(1, length(__norm) - {k - 1}), "
                f"i -> cast(conv(substring(md5(concat('{seed}:', "
                f"substring(__norm, i, {k}))), 1, 15), 16, 10) as bigint))"
            ),
        )
        .otherwise(F.array().cast("array<long>"))
        .alias("__h"),
    )
    m = F.size("__h")
    nw = F.greatest(m - F.lit(w - 1), F.lit(1))
    mins = F.when(
        m > 0,
        F.expr(
            f"transform(sequence(1, greatest(size(__h) - {w - 1}, 1)), "
            f"j -> array_min(slice(__h, j, {w})))"
        ),
    ).otherwise(F.array().cast("array<long>"))
    sel = F.array_distinct(mins)
    return staged.select(
        id_col,
        m.cast("long").alias("n_kgrams"),
        F.when(m > 0, nw).otherwise(F.lit(0)).cast("long").alias("n_windows"),
        F.size(sel).cast("long").alias("n_fingerprints"),
        r6(
            F.size(sel).cast("double")
            / F.nullif(
                F.when(m > 0, nw).otherwise(F.lit(0)).cast("double"),
                F.lit(0.0),
            )
        ).alias("density"),
        F.array_min(sel).alias("min_fp"),
        F.array_max(sel).alias("max_fp"),
    )


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document character-distribution quality stats: Shannon
    entropy (nats) of the normalized text's character histogram,
    distinct-character count, and digit ratio — the gibberish / junk
    screen a pretraining filter runs next to `quality_filter`'s
    token-level heuristics (encrypted blobs and key-mash spam sit at
    the entropy extremes; normal prose lands ≈ 2.8–3.2 nats).

    Map-only with NO explode: the per-doc histogram comes from the
    SORTED character array's run-length structure (boundary positions →
    run lengths — O(L log L) JVM array built-ins per doc), so the plan
    never materializes a |total chars| frame or shuffles. Entropy uses
    the log-sum identity H = ln L − (Σ n·ln n)/L with each n·ln n term
    quantized to the 1e-9 micro-grid before the fold (order-invariant,
    SQL-replayable; the external twin computes the same histogram by
    unnest + groupBy — different shape, identical integers).
    """
    # round 12 (guide §2.5 input skew): O(L log L) per-row array work;
    # spread a single-split corpus first (no-op at scale, map-only op)
    from ..sources.tables import fan_out

    df = fan_out(df)
    base = df.select(
        F.col(id_col), normalize(F.col(text_col)).alias("__norm")
    )
    L = F.length("__norm")
    staged = base.select(
        id_col,
        "__norm",
        L.alias("__L"),
        F.when(L > 0, F.array_sort(F.split(F.col("__norm"), ""))).alias(
            "__srt"
        ),
    ).select(
        id_col,
        "__norm",
        "__L",
        F.when(
            F.col("__L") > 0,
            F.expr(
                "filter(sequence(1, size(__srt)), i -> i = 1 OR "
                "element_at(__srt, i) != element_at(__srt, i - 1))"
            ),
        ).alias("__pos"),
    )
    runs = F.expr(
        "transform(sequence(1, size(__pos)), k -> "
        "(CASE WHEN k < size(__pos) THEN element_at(__pos, k + 1) "
        "ELSE __L + 1 END) - element_at(__pos, k))"
    )
    micro = F.expr(
        "aggregate(__runs, cast(0 as decimal(38,0)), (acc, c) -> "
        "acc + cast(floor(c * ln(c) * 1e9 + 0.5) as decimal(38,0)))"
    )
    ent = (
        F.log(F.col("__L").cast("double"))
        - F.col("__micro").cast("double") / F.lit(1e9)
        / F.col("__L").cast("double")
    )
    digit_ratio = (
        F.length(F.regexp_replace(F.col("__norm"), "[^0-9]", "")).cast(
            "double"
        )
        / F.col("__L").cast("double")
    )
    return (
        staged.withColumn("__runs", F.when(F.col("__L") > 0, runs))
        .withColumn("__micro", F.when(F.col("__L") > 0, micro))
        .select(
            id_col,
            F.col("__L").cast("long").alias("n_chars"),
            F.coalesce(F.size("__pos"), F.lit(0))
            .cast("long")
            .alias("n_distinct_chars"),
            F.when(F.col("__L") > 0, r6(ent))
            .otherwise(F.lit(0.0))
            .alias("entropy_nats"),
            F.when(F.col("__L") > 0, r6(digit_ratio))
            .otherwise(F.lit(0.0))
            .alias("digit_ratio"),
        )
    )
