"""Text analysis operators for large-scale training-data pipelines.

All hot-path logic is pure Spark SQL expressions (JVM, codegen) so the
same computation can be mirrored 1:1 in the DuckDB oracle. Each
function returns Column expressions usable in any select.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from movingspark import gmap

_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER = "abcdefghijklmnopqrstuvwxyz"


def lower_ascii(col: Column) -> Column:
    """ASCII lowercase via translate — byte-level, collation-free.

    Spark 4's collation-aware `lower()` pays a multi-minute one-time ICU
    CollationAwareUTF8String class-init in this JVM, and ICU case
    mapping can disagree with DuckDB's lower() on non-ASCII anyway;
    translate() is deterministic and identical in both engines."""
    return F.translate(col, _UPPER, _LOWER)


# the same normalization for DuckDB oracle SQL
LOWER_ASCII_SQL = "translate({}, '" + _UPPER + "', '" + _LOWER + "')"

# Tiny per-language stopword marker sets for the n-gram/stopword-ratio
# language-ID heuristic. Deliberately small + ASCII so the oracle SQL
# stays identical.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "que", "los", "de"],
}


def tokens_expr(text: Column) -> Column:
    """Whitespace tokenization (count basis for quality scoring)."""
    return F.split(F.trim(text), "\\s+")


def token_count_expr(text: Column) -> Column:
    return F.size(tokens_expr(text))


def bpe_ish_token_count_expr(text: Column) -> Column:
    """BPE-ish subword proxy: count of word/number/punct chunks — the
    standard regex pre-tokenizer shape (\\w+ runs and single non-space
    non-word marks)."""
    return F.size(F.regexp_extract_all(text, F.lit(r"\w+|[^\w\s]"), 0))


def punct_ratio_expr(text: Column) -> Column:
    n = F.length(text)
    p = n - F.length(F.regexp_replace(text, "[.,;:!?]", ""))
    return p / n


def lang_id_expr(text: Column) -> Column:
    """Heuristic language ID: the language whose marker stopwords occur
    most often among the first 64 tokens; 'und' (undetermined) if none."""
    toks = F.slice(tokens_expr(lower_ascii(text)), 1, 64)
    best_lang = F.lit("und")
    best_n = F.lit(0)
    for lang, markers in LANG_MARKERS.items():
        n = F.size(F.filter(toks, lambda t: t.isin(markers)))
        improved = n > best_n
        best_lang = F.when(improved, F.lit(lang)).otherwise(best_lang)
        best_n = F.when(improved, n).otherwise(best_n)
    return best_lang


def quality_score_expr(text: Column) -> Column:
    """Composite [0,1] quality score: length band + low punct noise +
    healthy mean word length. Pure arithmetic; thresholds are the usual
    C4-style heuristics."""
    n_toks = token_count_expr(text)
    n_chars = F.length(text)
    mean_word = n_chars / F.greatest(n_toks, F.lit(1))
    len_ok = F.when((n_toks >= 5) & (n_toks <= 100000), F.lit(1.0)).otherwise(F.lit(0.0))
    word_ok = F.when((mean_word >= 3) & (mean_word <= 12), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio_expr(text) <= 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    return (len_ok + word_ok + punct_ok) / 3.0


def pii_counts_expr(text: Column) -> Column:
    """Counts of common PII-shaped patterns (emails, URLs, long digit
    runs) — the standard pre-training scrub/flag signals. Pure
    regexp_extract_all counts (codegen, DuckDB-mirrorable); real
    redaction would rewrite the text with the same patterns."""
    email = F.size(F.regexp_extract_all(text, F.lit(r"[\w.+-]+@[\w-]+\.[\w.]+"), 0))
    url = F.size(F.regexp_extract_all(text, F.lit(r"https?://[^\s]+"), 0))
    digits = F.size(F.regexp_extract_all(text, F.lit(r"\d{9,}"), 0))
    return F.struct(
        email.alias("n_emails"), url.alias("n_urls"), digits.alias("n_long_digit_runs")
    )


def contamination_hits(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C style): flag training
    documents sharing any exact word n-gram (default 13) with an eval
    benchmark. Returns (doc_col, n_hits = #distinct benchmark-colliding
    n-grams in the doc); docs with no collision are absent.

    Scale shape: the benchmark side (thousands of eval docs) collapses
    to a DISTINCT md5(n-gram) set that is broadcast; the corpus side
    explodes its n-grams map-side and semi-joins WITHOUT shuffling the
    corpus — at 100 TB the only wide op is the final per-doc count, and
    it shuffles only the COLLIDING grams (rare by construction), not
    the corpus or its gram explosion. n=13 makes
    false collisions vanishingly rare, so hashing n-grams (8-byte keys
    in the broadcast set) is sound."""
    # its own tokenizer, not _word_shingles: a doc shorter than n words
    # emits no gram here (the oracle pins this), not one short shingle
    def grams(df, id_alias):
        words = F.split(lower_ascii(F.regexp_replace(F.col(text_col), "\\s+", " ")), " ")
        return (
            df.select(F.col(doc_col).alias(id_alias), words.alias("__w"))
            .filter(F.size("__w") >= n)
            .select(
                id_alias,
                F.explode(F.sequence(F.lit(1), F.size("__w") - (n - 1))).alias("__i"),
                "__w",
            )
            .select(id_alias, F.md5(F.concat_ws(" ", F.slice("__w", F.col("__i"), n))).alias("__g"))
        )

    bench_grams = grams(benchmark, "__bid").select("__g").distinct()
    doc_grams = grams(docs, doc_col)
    hits = doc_grams.join(F.broadcast(bench_grams), "__g", "left_semi")
    return hits.groupBy(doc_col).agg(F.count_distinct("__g").alias("n_hits"))


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_flags_expr(
    text: Column,
    min_words: int = 50,
    stopwords: list[str] | None = GOPHER_STOPWORDS,
) -> Column:
    """Gopher-rules document quality flags (Rae et al. 2021, 'Scaling
    Language Models: ... Gopher', table A1 — the standard pretraining
    corpus filter). Returns a struct of per-rule booleans plus the
    conjunction `passes`:

      word_count_ok    50 <= words <= 100_000
      mean_word_ok     3 <= mean word length <= 10
      symbol_ratio_ok  (#-signs + ellipses) / words <= 0.1
      bullet_ratio_ok  <= 90% of lines start with a bullet
      ellipsis_ratio_ok<= 30% of lines end with an ellipsis
      alpha_words_ok   >= 80% of words contain an alphabetic char
      stopwords_ok     >= 2 distinct members of the 8-stopword set

    Counting tricks keep almost everything codegen'd: mean word length
    = non-whitespace chars / words (no per-word aggregate); symbol and
    line counts via replace()/regexp_extract_all() length deltas. The
    one higher-order function (the alpha-word filter) runs once per
    document on an already-materialized words array — this is a
    corpus-pass filter, not a per-point hot path.

    `stopwords=None` disables the stopword rule (it is English-specific;
    multilingual pipelines localize or drop it); `min_words` lowers the
    published 50-word floor for short-document corpora."""
    words = F.split(F.trim(text), "\\s+")
    nw = F.greatest(F.size(words), F.lit(1))
    n_alpha_chars = F.length(F.regexp_replace(text, "\\s", ""))
    mean_word = n_alpha_chars / nw
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ellipsis = (F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))) / 3
    n_lines = F.greatest(
        F.length(text) - F.length(F.replace(text, F.lit("\n"), F.lit(""))) + 1, F.lit(1)
    )
    n_bullet = F.size(F.regexp_extract_all(text, F.lit(r"(?m)^\s*[-*]"), 0))
    n_ell_end = F.size(F.regexp_extract_all(text, F.lit(r"(?m)\.\.\.$"), 0))
    n_alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
    if stopwords is not None:
        stop_hits = F.size(
            F.array_intersect(
                F.transform(words, lambda w: F.translate(w, _UPPER, _LOWER)),
                F.array(*[F.lit(s) for s in stopwords]),
            )
        )
        stopwords_ok = stop_hits >= 2
    else:
        stopwords_ok = F.lit(True)
    flags = {
        "word_count_ok": (F.size(words) >= min_words) & (F.size(words) <= 100000),
        "mean_word_ok": (mean_word >= 3) & (mean_word <= 10),
        "symbol_ratio_ok": (n_hash + n_ellipsis) / nw <= 0.1,
        "bullet_ratio_ok": n_bullet / n_lines <= 0.9,
        "ellipsis_ratio_ok": n_ell_end / n_lines <= 0.3,
        "alpha_words_ok": n_alpha_words / nw >= 0.8,
        "stopwords_ok": stopwords_ok,
    }
    passes = None
    for c in flags.values():
        passes = c if passes is None else (passes & c)
    return F.struct(
        *[c.alias(name) for name, c in flags.items()], passes.alias("passes")
    )


def gopher_filter(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    stopwords: list[str] | None = GOPHER_STOPWORDS,
) -> DataFrame:
    """docs filtered to rows passing all Gopher rules."""
    return docs.filter(
        gopher_flags_expr(F.col(text_col), min_words=min_words, stopwords=stopwords)["passes"]
    )


def fingerprint_expr(text: Column) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized, lowercased
    text — the exact-dedup key."""
    return F.md5(lower_ascii(F.regexp_replace(text, "\\s+", " ")))


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    w: int = 16,
    doc_col: str = "doc_id",
) -> DataFrame:
    """Rolling-hash document fingerprints (Schleimer et al. 2003,
    'Winnowing: Local Algorithms for Document Fingerprinting'):
    Rabin-Karp polynomial hash over character k-grams of the normalized
    text, then one fingerprint per length-w gram window = the window's
    MINIMUM hash (value-set winnowing variant: the fingerprint is the
    DISTINCT set of per-window minima, order-free — the right shape for
    a dedup join; Schleimer's rightmost-position rule matters only when
    positions are reported). Documents shorter than w grams emit their
    global minimum. Output: (doc_col, fp long), distinct.

    Execution: ONE Arrow-batched pass (gmap.map_batches) over whole
    documents — per doc, codepoints come from a numpy view of the UTF-32
    encoding, the k-term polynomial is k vectorized Horner passes (int64:
    residue * 257 + cp stays far below 2^63), and the window minimum is
    one numpy min over a sliding-window view (exact: int64 values below
    2^31). No gram rows ever
    materialize as Spark rows: the previous formulation (explode to
    O(chars) rows + per-doc sort + window MIN + distinct exchange) spent
    ~85% of its time sorting and shuffling 1.45M gram rows at sf0.1 —
    both the naive rowsBetween(0,w-1) frame and an O(n) two-block
    prefix/suffix decomposition measured ~4-5 s against ~0.7 s for the
    gram+hash work itself, so the fix is removing the gram-row plan, not
    the frame. Per-doc distinct makes (doc, fp) globally distinct with
    no exchange. The independent DuckDB oracle keeps the pure-SQL
    window-min formulation, so the kernel stays bit-exactness-checked.

    The up-front repartition spreads docs across cores when a small
    input arrives as one split and bounds any text-length skew; it is
    the plan's only exchange, on O(docs) rows."""
    import re

    base, mod = 257, 2147483647
    ws_re = re.compile(r"\s+", re.ASCII)  # Java \s is ASCII-only too
    table = str.maketrans(_UPPER, _LOWER)

    def kernel(batch):
        rows, out_fp = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
        for i, txt in enumerate(batch.column(text_col).to_pylist()):
            if txt is None:
                continue
            t = ws_re.sub(" ", txt).translate(table)
            n = len(t) - k + 1
            if n < 1:
                continue
            cp = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
            h = np.zeros(n, dtype=np.int64)
            for j in range(k):
                h = (h * base + cp[j : j + n]) % mod
            fps = np.unique(np.lib.stride_tricks.sliding_window_view(h, min(w, n)).min(axis=1))
            rows.append(np.full(len(fps), i))
            out_fp.append(fps)
        return [batch.column(doc_col).take(np.concatenate(rows)), np.concatenate(out_fp)]

    docs = docs.repartition(F.col(doc_col)).select(F.col(doc_col), F.col(text_col))
    return gmap.map_batches(docs, kernel, T.StructType([docs.schema[doc_col], T.StructField("fp", T.LongType())]))


def winnow_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    k: int = 8,
    w: int = 16,
    min_shared: int = 2,
    max_fp_doc_freq: int = 2000,
) -> DataFrame:
    """MOSS-style near-dup detection over winnowing fingerprints
    (Schleimer et al. 2003 §4): two documents sharing >= `min_shared`
    selected fingerprints are candidates (a shared fingerprint is a
    guaranteed shared k-gram; winnowing guarantees any match of length
    >= w+k-1 shares at least one). Output (doc_a, doc_b, n_shared).

    The pairs come from the fingerprint inverted index of
    `_shared_key_pairs`; fingerprints in more than `max_fp_doc_freq`
    docs are dropped from pair GENERATION only — matching Stanford MOSS,
    which ignores over-common fingerprints as 'template code'."""
    fps = winnow_fingerprints(docs, text_col=text_col, k=k, w=w, doc_col=doc_col)
    keyed = fps.select(F.col(doc_col).alias("doc"), F.col("fp").alias("key"))
    return _shared_key_pairs(keyed, max_fp_doc_freq).filter(F.col("n_shared") >= min_shared)


def _word_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc, s): every word n-gram of the ASCII-lowercased, whitespace-
    split text, duplicates kept; a doc shorter than n words yields its
    whole text as one shingle.

    Shape: split once in its own projection, explode a shingle INDEX
    (plain generator, codegen'd), slice the words array per row — NOT
    transform(sequence, lambda). Higher-order functions run on the
    interpreted path, and a split() captured inside the lambda
    re-evaluates the regex tokenization per ELEMENT (measured 20-50x on
    the minhash pipeline: a straggler task sat minutes in
    UTF8String.translate/Pattern.split)."""
    words = F.split(lower_ascii(F.col(text_col)), "\\s+")
    return (
        df.select(F.col(id_col).alias("doc"), words.alias("__w"))
        .select(
            "doc",
            "__w",
            F.explode(F.sequence(F.lit(0), F.greatest(F.size("__w") - n, F.lit(0)))).alias("__k"),
        )
        .select("doc", F.concat_ws(" ", F.slice("__w", F.col("__k") + 1, n)).alias("s"))
    )


def _shared_key_pairs(keyed: DataFrame, max_doc_freq: int) -> DataFrame:
    """Inverted-index pair join over a distinct (doc, key) table:
    (doc_a, doc_b, n_shared) for every doc pair sharing a key, doc_a <
    doc_b. Keys held by more than `max_doc_freq` docs are dropped first
    (a key with DF=d emits d^2/2 join rows — quadratic blowup on exactly
    the boilerplate keys that carry no near-dup signal); a cap no key
    reaches gives the uncapped result. The DF count is a window over
    the key, the same single shuffle the self-join needs anyway."""
    idx = (
        keyed.withColumn("__df", F.count("*").over(Window.partitionBy("key")))
        .filter(F.col("__df") <= max_doc_freq)
        .drop("__df")
    )
    a, b = idx.alias("a"), idx.alias("b")
    return (
        a.join(b, (F.col("a.key") == F.col("b.key")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: candidates from the shingle
    inverted index (`_shared_key_pairs`), scored by `verify_pairs_jaccard`
    — Jaccard = |A ∩ B| / |A ∪ B| over the full shingle sets. Shuffles
    on the shingle — pair candidates only materialize for docs sharing
    shingles.

    max_doc_freq (1000): shingles in more than this many documents
    (stopword runs: "of the and") are EXCLUDED from the index. Scores
    are still exact, because verification recomputes them from the full
    sets; only pairs whose overlap is exclusively hot shingles can be
    missed (such pairs are far below any near-dup threshold in
    practice)."""
    sh = _word_shingles(df, id_col, text_col, n).select("doc", F.col("s").alias("key"))
    cand = _shared_key_pairs(sh.distinct(), max_doc_freq).select("doc_a", "doc_b")
    return verify_pairs_jaccard(df, cand, id_col, text_col, n=n, threshold=threshold)


def verify_pairs_jaccard(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact-similarity verification for LSH candidate pairs: recompute
    the n-gram Jaccard from the full shingle sets of ONLY the docs that
    appear in `pairs` (doc_a, doc_b) and keep pairs with J >= threshold.

    This is the precision stage banded LSH needs before any destructive
    action: a single band collision (J~0.3 docs collide with ~50%
    probability at b=8/r=2) and the over-cap chain diversion both emit
    pairs that merely SHARE A BAND KEY. Verifying here means a dedup job
    never deletes a document on a raw band collision.

    Scale shape: candidate docs are a small fraction of the corpus, so
    the semi-join prunes the shingling work to touched docs; the pair
    table then picks up both shingle arrays via two hash joins and the
    Jaccard is a codegen array_intersect — no index self-join, no
    quadratic path."""
    touched = (
        pairs.select(F.col("doc_a").alias(id_col))
        .unionByName(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    sh = (
        _word_shingles(docs.join(touched, id_col, "left_semi"), id_col, text_col, n)
        .groupBy("doc")
        .agg(F.collect_set("s").alias("sh"))
    )
    ba = sh.select(F.col("doc").alias("doc_a"), F.col("sh").alias("__sha"))
    bb = sh.select(F.col("doc").alias("doc_b"), F.col("sh").alias("__shb"))
    return (
        pairs.join(ba, "doc_a")
        .join(bb, "doc_b")
        .withColumn("__common", F.size(F.array_intersect("__sha", "__shb")))
        .withColumn(
            "jaccard",
            F.col("__common")
            / (F.size("__sha") + F.size("__shb") - F.col("__common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 5).alias("jaccard"))
    )


def add_simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    out_col: str = "simhash",
) -> DataFrame:
    """SimHash over word tokens with ONE md5 per token: token t votes
    for bit b when md5(t) hex nibble b is >= 8, and bit b is set when
    its votes exceed half the token count. (The per-row formulation,
    md5 inside a HOF filter lambda per bit, hashes 16x and runs on the
    interpreted expression path; it is kept only as the test oracle
    `tests/oracles.py:simhash_expr`.) Shape: explode tokens, hash once,
    project the `bits` per-token votes off the single hash string, then
    a map-side combinable groupBy(doc).sum — all whole-stage codegen.
    Returns (id_col, out_col); join back if the full row is needed.
    """
    toks = tokens_expr(lower_ascii(F.col(text_col)))
    # explode_OUTER: a null-text doc keeps one null-token row, so every
    # doc survives to the aggregate (votes 0 -> hash 0, same as the
    # per-row oracle) with NO join-back — one exchange total.
    ex = df.select(F.col(id_col), F.explode_outer(toks).alias("__tok")).select(
        id_col, F.md5(F.col("__tok")).alias("__h")
    )
    aggs = [F.count(F.col("__h")).alias("__n")]
    for b in range(bits):
        # nibble >= 8 is a plain byte compare on lowercase hex
        # ('8' < '9' < 'a' .. 'f'), no conv() string->int parse
        vote = F.substring(F.col("__h"), b + 1, 1) >= "8"
        aggs.append(F.sum(F.when(vote, 1).otherwise(0)).alias(f"__v{b}"))
    g = ex.groupBy(id_col).agg(*aggs)
    n = F.greatest(F.col("__n"), F.lit(1))
    out = F.lit(0).cast("long")
    for b in range(bits):
        out = out + (
            F.when(F.coalesce(F.col(f"__v{b}"), F.lit(0)) * 2 > n, F.lit(1 << b))
            .otherwise(F.lit(0))
            .cast("long")
        )
    return g.select(F.col(id_col), out.alias(out_col))


def minhash_band_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    max_band_bucket: int = 2000,
) -> DataFrame:
    """b x r banded MinHash LSH candidate pairs (the real near-dup
    detector; a single band of k minhashes has recall J^k — 0.41 at
    J=0.8 for k=4 — while b bands of r rows give 1-(1-J^r)^b — 0.9998
    at b=8, r=2). Each of the b*r hash families takes a map-side partial
    min over the exploded shingles; docs sharing ANY band bucket become
    one candidate pair (exploded band join, distinct across bands).
    Output: (doc_a, doc_b) candidates for exact verification.

    max_band_bucket (2000): a degenerate band bucket (thousands of
    boilerplate-identical docs sharing a band key) would emit
    |bucket|^2/2 pairs from the self-join. Buckets larger than the cap
    are diverted to a CHAIN path instead: docs sorted within the bucket
    and linked consecutively — linear in bucket size, and
    connectivity-preserving, so a downstream dedup union-find groups the
    same documents; only the (quadratic) explicit pair list is thinned."""
    n_hash = n_bands * rows_per_band
    ex = _word_shingles(df, id_col, text_col, shingle_n)
    sig = ex.groupBy("doc").agg(
        *[
            F.min(F.md5(F.concat(F.lit(str(h)), F.lit(":"), F.col("s")))).alias(f"mh{h}")
            for h in range(n_hash)
        ]
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
                    )
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    keyed = sig.select("doc", F.explode(bands).alias("bk")).select(
        "doc", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    # window count over (band, key) — same single shuffle the join
    # needs anyway, no extra aggregate-and-join round trip
    wcount = Window.partitionBy("band", "key")
    keyed = keyed.withColumn("__bn", F.count("*").over(wcount))
    small = keyed.filter(F.col("__bn") <= max_band_bucket).drop("__bn")
    wchain = Window.partitionBy("band", "key").orderBy("doc")
    chain = (
        keyed.filter(F.col("__bn") > max_band_bucket)
        .withColumn("__prev", F.lag("doc").over(wchain))
        .filter(F.col("__prev").isNotNull())
        .select(F.col("__prev").alias("doc_a"), F.col("doc").alias("doc_b"))
    )
    a = small.alias("a")
    b = small.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a.doc") < F.col("b.doc")),
    ).select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
    return pairs.unionByName(chain).distinct()


def dedup_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_col: str = "text_deduped",
) -> DataFrame:
    """Corpus-wide exact line (paragraph) dedup, CCNet/RefinedWeb-style:
    every non-blank line whose normalized hash occurs anywhere else in
    the corpus keeps ONLY its first occurrence — first = smallest
    (doc_id, line_index), a total order, so the survivor set is
    deterministic across partitionings and engines. Blank/whitespace
    lines are structural, carry no dedup signal, and are always kept.
    Output: (id_col, keep_col) with surviving lines rejoined by \\n in
    original order (docs whose text is null pass through as null).

    Scale shape: posexplode lines -> ONE window over the line-hash key
    (hash keys diffuse any hot document) -> groupBy(doc) reassembly that
    reuses nothing wider than the doc key. Line text itself never
    shuffles twice: the winner decision rides on (md5, doc, pos)."""
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias(
            "__pos", "__line"
        ),
    )
    norm = F.md5(lower_ascii(F.regexp_replace(F.col("__line"), "\\s+", " ")))
    blank = F.trim(F.col("__line")) == ""
    keyed = lines.withColumn("__k", F.when(blank, F.lit(None)).otherwise(norm))
    w = Window.partitionBy("__k")
    winner = F.min(F.struct(F.col(id_col), F.col("__pos"))).over(w)
    kept = keyed.withColumn(
        "__keep",
        F.col("__k").isNull()
        | ((winner[id_col] == F.col(id_col)) & (winner["__pos"] == F.col("__pos"))),
    ).filter(F.col("__keep"))
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
        ).alias(keep_col)
    )
    # null-text docs produced one empty line from coalesce('') — restore null
    nulls = docs.filter(F.col(text_col).isNull()).select(
        F.col(id_col), F.lit(None).cast("string").alias(keep_col)
    )
    return rebuilt.join(
        nulls.select(id_col), id_col, "left_anti"
    ).unionByName(nulls)


def chunk_documents(
    docs: DataFrame,
    max_tokens: int = 512,
    overlap: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-aware document chunking for training/embedding pipelines:
    whitespace tokens sliced into windows of max_tokens with `overlap`
    tokens shared between consecutive chunks (stride = max_tokens -
    overlap). Chunk k covers token indices [k*stride, k*stride +
    max_tokens); the chunk count ceil((n - overlap) / stride) (min 1)
    guarantees full coverage with no chunk nested inside its
    predecessor. Zero-token docs emit nothing. Output: (id_col,
    chunk_id, chunk_text, n_tokens).

    Everything is codegen: split once, explode(sequence) for chunk
    ids, slice + concat_ws per chunk — no HOF lambda over captured
    regex state (the interpreted-path pathology measured at 20-50x
    elsewhere in this engine), no Python."""
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    stride = max_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), "\\s+")
    base = docs.select(F.col(id_col), toks.alias("__t")).withColumn(
        "__n", F.size("__t")
    ).filter((F.col("__n") > 0) & (F.col("__t")[0] != ""))
    k_max = F.greatest(
        F.lit(1),
        F.ceil((F.col("__n") - F.lit(overlap)) / F.lit(float(stride))).cast("int"),
    )
    chunks = base.select(
        id_col,
        "__t",
        "__n",
        F.explode(F.sequence(F.lit(0), k_max - 1)).alias("chunk_id"),
    )
    piece = F.slice(F.col("__t"), F.col("chunk_id") * stride + 1, max_tokens)
    return chunks.select(
        id_col,
        "chunk_id",
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.least(
            F.lit(max_tokens), F.col("__n") - F.col("chunk_id") * stride
        ).alias("n_tokens"),
    )


def redact_pii_spans(docs: DataFrame, spans_col: str = "spans") -> DataFrame:
    """PII redaction INSIDE the text spans of interleaved documents,
    preserving the span sequence exactly: kind, media_ref, and offset
    are untouched, media spans pass through, and text spans are
    rewritten in place (emails -> <EMAIL>, URLs -> <URL>, 9+-digit runs
    -> <DIGITS> — the same patterns pii_counts_expr counts). Because the
    array structure is never reordered or filtered, the north-rule
    span-sequence invariant holds by construction; a test asserts
    span_invariant_violations() stays empty on the output.

    Execution note: the nested transform() is a higher-order function
    (interpreted expression path). That is the right trade here — a
    redaction pass runs once per corpus over documents, not per point in
    a hot loop, and keeping the rewrite inside the array avoids an
    explode + full reassembly shuffle at 100 TB."""

    def red(c: Column) -> Column:
        c = F.regexp_replace(c, r"[\w.+-]+@[\w-]+\.[\w.]+", "<EMAIL>")
        c = F.regexp_replace(c, r"https?://[^\s]+", "<URL>")
        return F.regexp_replace(c, r"\d{9,}", "<DIGITS>")

    return docs.withColumn(
        spans_col,
        F.transform(
            F.col(spans_col),
            lambda s: F.struct(
                s["kind"].alias("kind"),
                F.when(s["kind"] == "text", red(s["text"]))
                .otherwise(s["text"])
                .alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ),
    )


def frequent_tokens(docs: DataFrame, k: int = 50, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus heavy hitters: the k most frequent whitespace tokens
    (ASCII-lowercased), with occurrence and document frequencies — the
    vocabulary-audit / stopword-discovery pass of a corpus pipeline.
    Ties at the cutoff break lexicographically so the selected set is
    deterministic across partitionings and engines.

    Plan: explode -> two-phase hash aggregate (map-side combine over
    the token key) -> TakeOrderedAndProject for the top-k (partial
    per-partition top-k below the single exchange — no global sort).
    Document frequency is exact via a (token, doc) pre-aggregation,
    which also bounds the second agg's input by the distinct-pair
    count rather than raw occurrences."""
    tok = F.explode(tokens_expr(lower_ascii(F.col(text_col)))).alias("token")
    pairs = (
        docs.select(F.col(id_col).alias("__doc"), tok)
        .filter(F.col("token") != "")
        .groupBy("token", "__doc")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return (
        pairs.groupBy("token")
        .agg(
            F.sum("__n").alias("n_occurrences"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(int(k))
    )
