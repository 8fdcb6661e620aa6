"""Text analysis operators for large-scale training-data pipelines:
language-ID, quality scoring, token counting, document fingerprinting.

All hot paths are JVM-side built-ins (split/transform/aggregate/regexp) —
no Python UDFs — so they run inside whole-stage codegen and scale linearly
with executors. Every operator here has a DuckDB-oracle twin in
__spark_entry__.py (same column names, same deterministic tie-breaks).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from antnre_spark.schema import local_frame

# built-in stopword lists for the stopword-voting language heuristic;
# priority order breaks score ties deterministically. 8 languages x ~20
# high-frequency function words each (hand-assembled from common knowledge
# of each language's closed-class vocabulary — no external wordlist
# shipped). Still a heuristic, not fastText — but wide enough to separate
# the major European languages on real prose.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": [
        "the", "a", "of", "and", "to", "in", "is", "for", "on", "with",
        "that", "this", "was", "are", "be", "as", "at", "by", "from", "it",
    ],
    "de": [
        "der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf",
        "zu", "den", "von", "sich", "des", "im", "dem", "eine", "als",
        "auch", "werden",
    ],
    "fr": [
        "le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que",
        "des", "du", "il", "au", "ce", "pas", "sur", "sont", "avec", "ne",
    ],
    "es": [
        "el", "la", "los", "y", "es", "un", "una", "en", "por", "para",
        "del", "las", "se", "no", "con", "su", "al", "lo", "como", "más",
    ],
    "it": [
        "il", "di", "che", "e", "la", "per", "un", "non", "sono", "con",
        "del", "una", "della", "gli", "nel", "le", "si", "da", "più", "anche",
    ],
    "pt": [
        "o", "de", "que", "e", "do", "da", "em", "um", "para", "com",
        "não", "uma", "os", "no", "se", "na", "por", "mais", "das", "como",
    ],
    "nl": [
        "de", "het", "een", "van", "en", "in", "is", "dat", "op", "te",
        "zijn", "met", "voor", "niet", "aan", "er", "om", "ook", "als",
        "maar",
    ],
    "sv": [
        "och", "att", "det", "som", "en", "på", "är", "av", "för", "med",
        "den", "till", "inte", "om", "ett", "han", "var", "jag", "sig", "så",
    ],
}
LANG_PRIORITY = ["en", "de", "fr", "es", "it", "pt", "nl", "sv"]


def tokens_of(text: Column) -> Column:
    """Whitespace tokens (the engine-wide v1 tokenizer, SURVEY.md §2.D)."""
    return F.split(F.trim(text), r"\s+")


def token_hash(tok: Column) -> Column:
    """Engine-portable 32-bit token hash: first 8 hex chars of md5.
    (md5 is identical in Spark and DuckDB; crc32/xxhash64 are not.)"""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")


def with_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("n_tokens", F.size(tokens_of(F.col(text_col))))


# BPE-ish pre-tokenizer: contractions | space?+letters | space?+digits |
# space?+punct-run — the GPT-2-style split shape, restricted to syntax both
# Java regex (Spark) and RE2 (DuckDB) support identically (no lookahead),
# verified on unicode inputs. Counting THESE tokens approximates LLM token
# budgets far better than whitespace words (punctuation and number runs
# count separately).
BPE_PATTERN = r"'[a-zA-Z]+| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def bpe_tokens_of(text: Column) -> Column:
    return F.regexp_extract_all(text, F.lit(BPE_PATTERN), 0)


def with_bpe_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """LLM-budget token count: len(BPE-ish pre-tokens). Pure JVM regex."""
    return df.withColumn(
        "n_bpe_tokens", F.size(bpe_tokens_of(F.col(text_col)))
    )


def _stopword_hits(toks: Column, words: list[str]) -> Column:
    lit_arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(lit_arr, F.lower(t))))


def with_language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-voting language ID. Scores are exact hit counts; ties break
    by LANG_PRIORITY order (stable under any execution plan)."""
    toks = tokens_of(F.col(text_col))
    scored = df
    for lang in LANG_PRIORITY:
        scored = scored.withColumn(
            f"score_{lang}", _stopword_hits(toks, LANG_STOPWORDS[lang])
        )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_PRIORITY])
    pred = F.lit("und")
    for lang in reversed(LANG_PRIORITY):  # earlier priority wins ties
        pred = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return scored.withColumn("pred_lang", pred)


# ---- trained char-trigram naive-Bayes language ID ----
#
# Replaces the stopword-voting heuristic as the production path: a NB
# classifier over character trigrams trained on the deterministic fixture
# corpora (antnre_spark/langid_corpora.py, 14 languages — in-package so
# a --py-files deployment is self-contained). All arithmetic is
# INTEGER micro-log10-probabilities (round(log10(p) * 1e6)), so scores are
# exact long sums — identical in any engine and under any execution order.
#
# Scale shape (a measured finding drove this design): a map
# literal IS constant-folded by Catalyst, but element_at over the folded
# ArrayBasedMapData literal is a LINEAR SCAN per lookup — measured 0.27s /
# 0.33s / 1.14s / 10.8s per 20k docs at 10 / 150 / 1500 / 15000 entries.
# A ~1.4k-gram vocabulary would pay ~40 string comparisons per doc-char.
# So scoring is a BROADCAST HASH JOIN instead: explode doc trigrams, join
# the tiny (gram -> per-lang score vector) table (O(1) hash probe, JVM-
# side), one map-side-combined groupBy(doc) of long sums. At 100 TB the
# join is broadcast (table is ~100 KB) and the only shuffle is the per-doc
# partial-sum combine.

_NGRAM_MODELS: dict[int, tuple] = {}  # keyed by min_count


def _collapse_lower(col: Column) -> Column:
    return F.lower(F.regexp_replace(F.trim(col), r"\s+", " "))


def _char_trigrams(text: str) -> list[str]:
    t = " " + " ".join(text.lower().split()) + " "
    return [t[i : i + 3] for i in range(len(t) - 2)]


def ngram_langid_model(
    min_count: int = 1,
) -> tuple[list[str], dict[str, list[int]], list[int]]:
    """(langs, gram -> per-lang micro-log10-prob list, per-lang OOV
    micro-log10-prob). Add-0.5 smoothing over vocab+OOV; vocabulary =
    trigrams seen >= min_count times in at least one language's training
    corpus (min_count=1 measured 0.93 held-out accuracy vs 0.86 at 2 —
    singletons carry real signal for closely-related language pairs).
    Pure python over the fixture corpora — deterministic, so the DuckDB
    oracle rebuilds the identical table."""
    if min_count not in _NGRAM_MODELS:
        import math

        from antnre_spark.langid_corpora import NGRAM_LANGS, TRAIN

        counts: dict[str, dict[str, int]] = {}
        for lang in NGRAM_LANGS:
            c: dict[str, int] = {}
            for g in _char_trigrams(TRAIN[lang]):
                c[g] = c.get(g, 0) + 1
            counts[lang] = c
        vocab = sorted(
            {
                g
                for c in counts.values()
                for g, n in c.items()
                if n >= min_count
            }
        )
        table: dict[str, list[int]] = {}
        oov: list[int] = []
        denom = {}
        for lang in NGRAM_LANGS:
            total = sum(counts[lang].values())
            denom[lang] = total + 0.5 * (len(vocab) + 1)
            oov.append(round(math.log10(0.5 / denom[lang]) * 1e6))
        for g in vocab:
            table[g] = [
                round(
                    math.log10(
                        (counts[lang].get(g, 0) + 0.5) / denom[lang]
                    )
                    * 1e6
                )
                for lang in NGRAM_LANGS
            ]
        _NGRAM_MODELS[min_count] = (list(NGRAM_LANGS), table, oov)
    return _NGRAM_MODELS[min_count]


def language_id_ngram(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Trained language ID: returns (id_col, pred_lang) — one row per
    input row. Ties break to the earlier language in NGRAM_LANGS (exact
    integer comparison, so the tie-break is total and engine-portable).
    Join back on id_col if the full row is needed downstream."""
    langs, table, oov = ngram_langid_model()
    spark = df.sparkSession
    tbl = F.broadcast(
        local_frame(spark, sorted(table.items()), "gram string, s array<bigint>")
    )
    # hoist the collapsed text into a projection: Spark does not CSE
    # subexpressions across higher-order-function lambdas, so inlining
    # this re-runs the regex per gram index — O(chars^2)/doc (the same
    # hoist as with_trigram_logprob)
    t = F.col("__langid_t")
    n = F.length(t)
    grams = df.withColumn(
        "__langid_t",
        F.concat(F.lit(" "), _collapse_lower(F.col(text_col)), F.lit(" ")),
    ).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1))),
                lambda i: t.substr(i, F.lit(3)),
            )
        ).alias("gram"),
    )
    oov_arr = F.array(*[F.lit(int(x)).cast("bigint") for x in oov])
    sc = F.coalesce(F.col("s"), oov_arr)
    scored = (
        grams.join(tbl, "gram", "left")
        .groupBy(id_col)
        .agg(
            *[
                F.sum(F.element_at(sc, i + 1)).alias(f"sc_{lang}")
                for i, lang in enumerate(langs)
            ]
        )
    )
    best = F.greatest(*[F.col(f"sc_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):
        pred = F.when(F.col(f"sc_{lang}") == best, F.lit(lang)).otherwise(
            pred
        )
    return scored.select(F.col(id_col), pred.alias("pred_lang"))


def with_quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document-quality features (length / punctuation / stopword
    ratios + mean token length), the standard pre-training filters."""
    text = F.col(text_col)
    toks = tokens_of(text)
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    punct = n_chars - F.length(F.regexp_replace(text, r"[.,;:!?]", ""))
    stop_hits = _stopword_hits(toks, LANG_STOPWORDS["en"])
    return (
        df.withColumn("n_tokens", n_tokens)
        .withColumn("punct_ratio", F.round(punct / F.greatest(n_chars, F.lit(1)), 6))
        .withColumn(
            "stopword_ratio",
            F.round(stop_hits / F.greatest(n_tokens, F.lit(1)), 6),
        )
        .withColumn(
            "mean_token_len",
            F.round(
                (n_chars - n_tokens + 1) / F.greatest(n_tokens, F.lit(1)), 6
            ),
        )
    )


# seed corpus for the char-trigram language-model quality proxy: a fixed
# paragraph of ordinary English prose written for this module (the point
# is a DETERMINISTIC, engine-portable probability table, not linguistic
# coverage — swap in corpus-trained counts for production filtering)
_TRIGRAM_SEED = (
    "the quality of a training corpus depends on the text it keeps and the "
    "text it throws away. documents that read like ordinary prose share "
    "most of their character patterns with other prose, while boilerplate, "
    "markup and random noise do not. a simple language model over "
    "character sequences can tell these apart: text that the model finds "
    "predictable scores well, and text full of surprising sequences "
    "scores poorly. this paragraph is the training data for that model, "
    "so common english patterns like spaces between short words, the "
    "letter pairs found in everyday writing, and ordinary punctuation "
    "are what it learns to expect from clean text in the end."
)
_TRIGRAM_TABLE: dict[str, float] | None = None


def trigram_table() -> dict[str, float]:
    """Char-trigram log10 probabilities from the fixed seed paragraph
    (counts >= 2 kept; singletons fold into the OOV mass). Values rounded
    to 6 decimals so the identical literals drive Spark (map literal) and
    DuckDB (VALUES join / CASE) — both engines then score bit-identically.
    """
    global _TRIGRAM_TABLE
    if _TRIGRAM_TABLE is None:
        import math

        text = " ".join(_TRIGRAM_SEED.lower().split())
        counts: dict[str, int] = {}
        for i in range(len(text) - 2):
            t = text[i : i + 3]
            counts[t] = counts.get(t, 0) + 1
        total = sum(counts.values())
        _TRIGRAM_TABLE = {
            t: round(math.log10(c / total), 6)
            for t, c in sorted(counts.items())
            if c >= 2
        }
    return _TRIGRAM_TABLE


def trigram_oov_logp() -> float:
    """OOV log-prob: half a count over the seed total (rounded like the
    table entries)."""
    import math

    text = " ".join(_TRIGRAM_SEED.lower().split())
    return round(math.log10(0.5 / (len(text) - 2)), 6)


def with_trigram_logprob(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Char-trigram LM quality proxy (the perplexity-style pre-training
    filter): mean log10 probability of the document's character trigrams
    under the seed-trained table — prose-like text scores high (closer to
    0), markup/noise scores low. Pure JVM column math: whitespace
    collapse + lowercase, trigrams via transform over a sequence (no
    explode — one row stays one row), table lookup via a map literal
    (element_at -> null -> OOV coalesce), left-fold sum. Adds
    ``trigram_logp`` (mean, rounded 4).

    Cost model (measured): Catalyst DOES constant-fold the CreateMap
    into a map literal — it is NOT rebuilt per row — but element_at over
    the folded ArrayBasedMapData is a LINEAR SCAN per lookup, so per-gram
    cost grows with table size
    (20k docs: 0.27s baseline / 0.33s @150 entries / 1.14s @1500 /
    10.8s @15000). At THIS table's size (~150 grams) the scan overhead
    is ~20% of an already-tiny stage and the zero-shuffle shape wins;
    for vocabularies in the thousands use the broadcast-join design of
    language_id_ngram above (hash probe per gram + one map-side-combined
    groupBy), which is the corpus-scale path."""
    table = trigram_table()
    oov = trigram_oov_logp()
    kv = []
    for k, v in table.items():
        kv.append(F.lit(k))
        kv.append(F.lit(v))
    map_lit = F.create_map(*kv)
    # materialize the collapsed text in its own projection FIRST: inlining
    # this expression into the per-gram lambda makes codegen re-run the
    # regexp_replace for EVERY gram index — O(chars^2) per document
    # (measured: 28s -> 8.2s per 40k docs just from this hoist; Spark
    # does not CSE subexpressions across higher-order-function lambdas)
    t = F.col("__trigram_t")
    n = F.length(t)
    idxs = F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1)))
    logps = F.transform(
        idxs,
        # try_element_at, not element_at: ANSI mode (Spark 4 default)
        # makes element_at THROW on a missing map key; try_ returns null
        lambda i: F.coalesce(
            F.try_element_at(map_lit, t.substr(i, F.lit(3))), F.lit(oov)
        ),
    )
    mean_logp = F.aggregate(
        logps, F.lit(0.0), lambda acc, x: acc + x
    ) / F.size(logps)
    return (
        df.withColumn(
            "__trigram_t",
            F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")),
        )
        .withColumn("trigram_logp", F.round(mean_logp, 4))
        .drop("__trigram_t")
    )


def with_trigram_logprob_join(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-scale twin of ``with_trigram_logprob`` — same column out
    (``trigram_logp``, mean char-trigram log10-prob rounded 4), computed
    with the broadcast-join shape language_id_ngram uses instead of a
    map-literal scan (element_at over a folded map
    literal is a LINEAR scan per lookup — 10.8s/20k docs at 15k entries —
    so gating a 100 TB curation run on the map path does not scale past
    a few hundred grams; a hash-join probe is O(1) per gram at any table
    size).

    Shape: explode the SAME gram multiset the map path scores (indices
    1..max(n-2,1), so sub-3-char tails and null text hit the OOV value
    identically) -> broadcast hash join against the gram->logp table ->
    one map-side-combined groupBy(id) -> join back. Two narrow shuffles
    (by id) buy O(1) lookups; the map path stays the right choice for
    tiny tables on rows that avoid a shuffle entirely.

    Determinism: per-gram values are summed as exact integer micro-logps
    (x 1e6, same trick as language_id_ngram), so the sum is
    order-independent — no float reassociation across partitions. The
    table values are ALREADY 6-decimal-rounded (trigram_table), so the
    integer quantization is exact; the only divergence vs the map path
    is the map path's per-term float64 representation error (~n·2^-52
    before the final round(4) — it would take a mean sitting within
    ~1e-13 of a 0.00005 boundary to flip a rounded digit, the same class
    of hazard as any float sum). Equal on every fixture/testdata
    document (asserted in tests/test_dataops.py)."""
    table = trigram_table()
    oov_micro = int(round(trigram_oov_logp() * 1e6))
    spark = df.sparkSession
    tbl = F.broadcast(
        local_frame(
            spark,
            sorted((g, int(round(v * 1e6))) for g, v in table.items()),
            "gram string, micro bigint",
        )
    )
    # same lambda-CSE hoist as the map path: collapse the text once in a
    # projection, not once per gram index
    t = F.col("__trigram_t")
    n = F.length(t)
    idxs = F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1)))
    grams = df.withColumn(
        "__trigram_t",
        F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")),
    ).select(
        F.col(id_col),
        F.explode(
            F.transform(idxs, lambda i: t.substr(i, F.lit(3)))
        ).alias("gram"),
    )
    scores = (
        grams.join(tbl, "gram", "left")
        .groupBy(id_col)
        .agg(
            (
                F.sum(F.coalesce(F.col("micro"), F.lit(oov_micro)))
                / (F.count(F.lit(1)) * F.lit(1e6))
            ).alias("_mean_logp")
        )
    )
    return df.join(scores, id_col, "left").withColumn(
        "trigram_logp", F.round(F.col("_mean_logp"), 4)
    ).drop("_mean_logp")


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Order-sensitive document fingerprint: sum_i (i+1) * md5_32(token_i).

    Pure JVM expression (transform-with-index + aggregate). Position
    weighting makes token swaps change the fingerprint (unlike bag-of-words
    hashes); values fit int64 for any realistic document."""
    toks = tokens_of(F.col(text_col))
    weighted = F.transform(toks, lambda t, i: (i + F.lit(1)) * token_hash(t))
    return df.withColumn(
        "fingerprint",
        F.aggregate(weighted, F.lit(0).cast("long"), lambda acc, x: acc + x),
    )
